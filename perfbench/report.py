"""Per-layer report of a traced run: span self time by layer, Spark
status-store totals, driver-side wait and each workload's layer counters,
overall and per operation class."""

from __future__ import annotations

from harness import Ctx, jobs_wall_s, self_times, STAGE_FIELDS

# spans that build a DataFrame, plan it, or execute work
BUILD = ("operators.build", "catalog.scan", "bench.input")
EXECUTE = ("spark.action", "catalog.commit", "catalog.maint", "streaming.drain")
# layer counters that are a reading of table state, not a sum over operations
LAST_VALUE = ("files_live", "delete_files_live", "meta_bytes", "snapshots_live")


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


def _class_report(ctx: Ctx, classes: set[str]) -> dict[str, float]:
    ops = {o.op_id: o for o in ctx.oplog.ops if o.cls in classes}
    out: dict[str, float] = {"ops": float(len(ops))}
    spans = ctx.tracer.spans
    for s, self_s in zip(spans, self_times(spans)):
        if s.op_id in ops:
            key = "self." + ("bench" if s.name.startswith("op.") else s.name) + "_ms"
            out[key] = out.get(key, 0.0) + self_s * 1000.0
            if not s.name.startswith("op."):
                key = s.name + "_ms"
                out[key] = out.get(key, 0.0) + (s.end - s.start) * 1000.0
    exec_s = {i: 0.0 for i in ops}
    for s in spans:
        if s.op_id in ops and s.name in EXECUTE:
            exec_s[s.op_id] += s.end - s.start
    recs = [r for r in ctx.records if r.op.op_id in ops]
    wait = 0.0
    for r in recs:
        wait += max(0.0, exec_s[r.op.op_id] - jobs_wall_s(r.jobs))
        out["spark.jobs"] = out.get("spark.jobs", 0.0) + len(r.jobs)
        out["spark.tasks"] = out.get("spark.tasks", 0.0) + sum(j.tasks for j in r.jobs)
        for name, _, _ in STAGE_FIELDS:
            out["spark." + name] = out.get("spark." + name, 0.0) + sum(
                j.stages.get(name, 0.0) for j in r.jobs)
        for k, v in r.extra.items():
            out[k] = v if k in LAST_VALUE else out.get(k, 0.0) + v
    out["driver.wait_ms"] = wait * 1000.0
    return out


def lake_counters(ctx: Ctx, per_class: dict[str, dict[str, float]]) -> dict[str, float]:
    """The catalog and streaming counters of ``lake_mixed`` under the
    names the layer table uses."""
    read, write = per_class.get("read", {}), per_class.get("write", {})
    maint, drain = per_class.get("maint", {}), per_class.get("drain", {})
    pruned = [r.extra for r in ctx.records
              if r.op.name in ("window_1d", "point", "in_list") and "files_live" in r.extra]
    commits = [r for r in ctx.records if r.op.cls == "write"]
    meta = [r.extra["meta_bytes"] for r in ctx.records if "meta_bytes" in r.extra]
    live = sum(e["files_live"] for e in pruned)
    return {
        "catalog.scan_call_ms": read.get("catalog.scan_ms", 0.0),
        "catalog.files_live": read.get("files_live", 0.0),
        "catalog.files_scanned": read.get("files_scanned", 0.0),
        "catalog.prune_ratio": 1.0 - sum(e["files_scanned"] for e in pruned) / live if live else 0.0,
        "catalog.delete_files_live": read.get("delete_files_live", 0.0),
        "catalog.commit_driver_ms": write.get("driver.wait_ms", 0.0),
        "catalog.files_added_per_commit": write.get("files_added", 0.0) / max(1, len(commits)),
        "catalog.meta_bytes": meta[-1] if meta else 0.0,
        "catalog.meta_bytes_slope": _slope(meta),
        "catalog.snapshots_live": maint.get("snapshots_live", write.get("snapshots_live", 0.0)),
        "catalog.maint_jobs": maint.get("spark.jobs", 0.0) / max(1.0, maint.get("ops", 0.0)),
        "catalog.maint_files_rewritten": maint.get("files_rewritten", 0.0),
        "catalog.maint_bytes_rewritten": maint.get("bytes_rewritten", 0.0),
        "streaming.drain_ms": drain.get("streaming.drain_ms", 0.0),
        "streaming.latest_offset_ms": drain.get("latest_offset_ms", 0.0),
        "streaming.add_batch_ms": drain.get("add_batch_ms", 0.0),
        "streaming.rows": drain.get("stream_rows", 0.0),
    }


def layer_report(ctx: Ctx) -> dict:
    """``{"all": {...}, "by_class": {cls: {...}}}``; lake runs also get
    ``"lake"`` with the catalog and streaming counters."""
    classes = sorted({o.cls for o in ctx.oplog.ops})
    per_class = {c: _class_report(ctx, {c}) for c in classes}
    out = {"all": _class_report(ctx, set(classes)), "by_class": per_class}
    if "maint" in per_class:
        out["lake"] = lake_counters(ctx, per_class)
    return out


def headline(report: dict) -> dict[str, float]:
    """The per-layer metrics every workload reports, from the ``all`` row."""
    a = report["all"]
    total = lambda *names: sum(a.get(n, 0.0) for n in names)  # noqa: E731
    return {
        "self.build_ms": total(*[f"self.{n}_ms" for n in BUILD]),
        "self.plan_ms": total("self.spark.plan_ms"),
        "self.execute_ms": total(*[f"self.{n}_ms" for n in EXECUTE]),
        "self.bench_ms": total("self.bench_ms"),
        "driver.wait_ms": a["driver.wait_ms"],
        "spark.jobs": a.get("spark.jobs", 0.0),
        "spark.tasks": a.get("spark.tasks", 0.0),
        "spark.run_s": a.get("spark.run_s", 0.0),
        "spark.cpu_s": a.get("spark.cpu_s", 0.0),
        "spark.input_mb": a.get("spark.input_mb", 0.0),
        "spark.shuffle_write_mb": a.get("spark.shuffle_write_mb", 0.0),
    }
