"""Seeded input generators: the TPC-H-shaped star schema the query suite
reads, and the curation corpus (documents and embeddings).

Both write plain parquet with pyarrow, so the same seed gives the same
bytes. Column names, types and value domains follow the package's
``sources.TABLES`` layout, which is what the registered queries and
their DuckDB oracles read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star schema -------------------------------------------------------------------

# rows per unit of scale factor (sf0.1 = 600k lineitem rows)
STAR_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 30)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, sf: float, seed: int) -> int:
    """Write region … lineitem and events as one parquet file each under
    ``out_dir``; return the number of rows written."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in STAR_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
    }
    pk = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, ne, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())


# -- curation corpus --------------------------------------------------------------------

# marker and stop words of text.py's language ID, so every language is
# recognisable, plus a generated content vocabulary per language
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "y"],
    "zh": ["的", "是", "了", "在"],
}
SYLLABLES = {
    "en": ["ta", "ro", "mi", "ne", "lu", "ka", "so", "ve", "pin", "dor"],
    "de": ["sch", "ei", "ung", "ber", "ach", "en", "st", "au", "lich", "keit"],
    "fr": ["eau", "ti", "on", "ré", "ça", "moi", "eur", "lle", "que", "ain"],
    "es": ["ción", "ar", "ue", "lla", "ño", "ro", "des", "ía", "to", "mas"],
    "zh": ["数", "据", "模", "型", "文", "本", "质", "量", "训", "练"],
}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
EMB_DIM = 64
SEMDEDUP_K = 8  # centroid count of dedup_semantic_clusters


def _vocab(lang: str) -> list[str]:
    syl = SYLLABLES[lang]
    return LANG_MARKERS[lang] * 4 + [a + b for a in syl for b in syl]


def corpus_documents(n_docs: int, seed: int) -> pa.Table:
    """Documents with planted structure:

    - exact duplicates (about 6%) and near duplicates (about 6%, one
      token in twenty replaced) of earlier documents;
    - five languages;
    - a contaminated slice: about 4% of documents carry a 12-token span
      copied from an eval document (``doc_id % 5 == 0`` is the eval
      slice of ``pipeline_curate_full``);
    - lengths from 8 to 90 tokens, on both sides of the 30-token
      quality gate.
    """
    rng = np.random.default_rng(seed)
    vocab = {lang: _vocab(lang) for lang in LANGS}
    texts: list[list[str]] = []
    langs: list[str] = []
    for i in range(n_docs):
        kind = rng.random() if i > 10 else 1.0
        if kind < 0.06:  # exact duplicate
            j = int(rng.integers(0, i))
            toks, lang = list(texts[j]), langs[j]
        elif kind < 0.12:  # near duplicate
            j = int(rng.integers(0, i))
            toks, lang = list(texts[j]), langs[j]
            v = vocab[lang]
            for p in range(0, len(toks), 20):
                toks[p] = v[int(rng.integers(0, len(v)))]
        else:
            lang = LANGS[int(rng.choice(5, p=LANG_P))]
            v = vocab[lang]
            toks = [v[k] for k in rng.integers(0, len(v), int(rng.integers(8, 91)))]
            if kind < 0.16 and i % 5 != 0:  # contaminated by an eval doc
                src = texts[int(rng.integers(0, i // 5)) * 5]
                at = int(rng.integers(0, max(1, len(src) - 12)))
                pos = int(rng.integers(0, len(toks)))
                toks[pos:pos] = src[at:at + 12]
        texts.append(toks)
        langs.append(lang)
    joined = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": joined,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })


def corpus_embeddings(n_vec: int, seed: int) -> pa.Table:
    """Unit vectors in ``SEMDEDUP_K`` equal clusters around the first
    ``SEMDEDUP_K`` vectors (the centroids ``dedup_semantic_clusters``
    uses), so its per-cluster pair search does the same work for every
    seed. About 15% are a small perturbation (cosine about 0.98) of an
    earlier vector of the same cluster."""
    rng = np.random.default_rng(seed + 1)
    unit = lambda m: m / np.linalg.norm(m, axis=-1, keepdims=True)  # noqa: E731
    cents = unit(rng.standard_normal((SEMDEDUP_K, EMB_DIM)))
    vecs = np.empty((n_vec, EMB_DIM))
    vecs[:SEMDEDUP_K] = cents
    for i in range(SEMDEDUP_K, n_vec):
        c = i % SEMDEDUP_K
        if rng.random() < 0.15 and i >= 2 * SEMDEDUP_K:
            j = c + SEMDEDUP_K * int(rng.integers(1, i // SEMDEDUP_K))
            vecs[i] = unit(vecs[j] + 0.02 * rng.standard_normal(EMB_DIM))
        else:
            vecs[i] = unit(0.5 * cents[c] + 0.85 * unit(rng.standard_normal(EMB_DIM)))
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vec + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


def write_split(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as a directory of ``parts`` parquet files, so a
    scan of it spans ``parts`` input partitions."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        _write(table.slice(p * step, step), os.path.join(path, f"part-{p:05d}.parquet"))


def write_corpus(out_dir: str, n_docs: int, n_vec: int, seed: int, parts: int) -> int:
    """Write ``documents.parquet`` and ``embeddings.parquet`` as
    ``parts``-file directories; return the number of rows written."""
    docs, emb = corpus_documents(n_docs, seed), corpus_embeddings(n_vec, seed)
    write_split(docs, os.path.join(out_dir, "documents.parquet"), parts)
    write_split(emb, os.path.join(out_dir, "embeddings.parquet"), parts)
    return docs.num_rows + emb.num_rows

