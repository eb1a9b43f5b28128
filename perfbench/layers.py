"""Which engine calls the traced run wraps, and the per-layer metrics
computed from their spans.

A span's name is ``<layer>.<call>``; the layers are the package's
modules: runner, strategy (plans.strategy), sources (sources.files),
pipeline (functions + plans.pipeline), stage, deltalog, deltareader
(storage.*), watermarks (plans.watermarks), corpus (plans.corpus) and
the operators the corpus pipeline calls eagerly (graph, similarity,
dedup). Lazy operators only build plans; their jobs run, and are
counted, under the corpus step that materializes them.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.spans import Span, Tracer, layer_metrics

LAYERS = ["runner", "strategy", "sources", "pipeline", "stage", "deltalog",
          "deltareader", "watermarks", "corpus", "graph", "similarity", "dedup"]
CORPUS_STEPS = ("clean", "dedup", "semdedup", "split", "shard")

#: generic counter names the issue-level names replace
_RENAMED = {"graph.jobs": "graph.cc_jobs"}


def _table_key(_self, table, *a, **k) -> str:
    return table.stage_table_name


def _commit_attrs(_path, _schema, adds, *a, **k) -> dict:
    return {"bytes": sum(size for _, size, _ in adds), "files": len(adds)}


def install(tracer: Tracer) -> None:
    """Wrap every traced call, including names callers imported
    directly (the runner's own copies of plan_extraction, write_raw and
    run_table_pipeline)."""
    from cdk_datalake_ingest_bigmagic_spark import runner
    from cdk_datalake_ingest_bigmagic_spark.operators import dedup, graph, similarity
    from cdk_datalake_ingest_bigmagic_spark.plans import corpus, pipeline, watermarks
    from cdk_datalake_ingest_bigmagic_spark.sources import files
    from cdk_datalake_ingest_bigmagic_spark.storage import deltalog, deltareader, stage

    pr, ws = runner.ProcessRunner, watermarks.WatermarkStore
    st = stage.ParquetStageTable
    w = tracer.wrap
    w(pr, "run_process", "runner.run_process", ambient=True)
    w(pr, "extract_table", "runner.extract_table", key=_table_key)
    w(pr, "transform_table", "runner.transform_table", key=_table_key)
    w(runner, "plan_extraction", "strategy.plan_extraction")
    w(runner, "write_raw", "sources.write_raw")
    w(files, "read_raw", "sources.read_raw")
    w(runner, "run_table_pipeline", "pipeline.run_table_pipeline")
    w(pipeline, "compile_columns", "pipeline.compile_columns")
    for op in ("overwrite", "merge", "optimize", "vacuum"):
        w(st, op, f"stage.{op}")
    w(deltalog, "commit_change", "deltalog.commit", attrs=_commit_attrs)
    w(deltalog, "_replay", "deltalog.replay")
    w(deltalog, "removal_timestamps", "deltalog.replay")
    w(deltareader, "read_delta", "deltareader.read_delta")
    w(ws, "get", "watermarks.get")
    for op in ("save_provisional", "confirm", "rollback"):
        w(ws, op, "watermarks.save")
    w(corpus.CorpusPipeline, "run", "corpus.run")
    w(corpus.CorpusPipeline, "_materialize", "corpus.materialize",
      key=lambda _self, name, *a, **k: name)
    w(graph, "connected_components", "graph.cc")
    w(similarity, "semdedup_keep_best", "similarity.semdedup_keep_best")
    w(dedup, "jaccard_pairs_rows", "dedup.jaccard_pairs_rows")
    w(dedup, "attach_keep_flags", "dedup.attach_keep_flags")


def _runner_flow(spans: list[Span]) -> tuple[float, int]:
    """(summed queue wait of every table, peak tables in flight): a table
    is in flight from its extract start to its transform end."""
    wait, peak = 0.0, 0
    for rp in (s for s in spans if s.name == "runner.run_process"):
        inside = [s for s in spans if s.parent == rp.id]
        starts = {s.key: s.start for s in inside if s.name == "runner.extract_table"}
        ends = {s.key: s.end for s in inside if s.name == "runner.transform_table"}
        wait += sum(t - rp.start for t in starts.values())
        edges = sorted([(t, 1) for t in starts.values()]
                       + [(ends[k], -1) for k in starts if k in ends])
        cur = 0
        for _, d in edges:
            cur += d
            peak = max(peak, cur)
    return wait, peak


def pass_metrics(spans: list[Span], counters: dict[int, dict],
                 inspect: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    dur = defaultdict(float)
    for s in spans:
        dur[s.name] += s.duration
    commits = [s for s in spans if s.name == "deltalog.commit"]
    wait, peak = _runner_flow(spans)
    landed = inspect.get("landed_rows", 0)
    out = {
        "pipeline.compile_ms": dur["pipeline.compile_columns"] * 1e3,
        "deltalog.replay_ms": dur["deltalog.replay"] * 1e3,
        "deltalog.commit_ms": dur["deltalog.commit"] * 1e3,
        "watermarks.get_ms": dur["watermarks.get"] * 1e3,
        "watermarks.save_ms": dur["watermarks.save"] * 1e3,
        "watermarks.files": inspect.get("watermark_files", 0),
        "runner.wait_s": wait,
        "runner.peak_in_flight": peak,
        "stage.merge_s": dur["stage.merge"],
        "stage.mb_written": sum(s.attrs["bytes"] for s in commits) / 2**20,
        "stage.files_written": sum(s.attrs["files"] for s in commits),
        "stage.tombstone_mb": inspect.get("tombstone_mb", 0.0),
        "stage.optimize_s": dur["stage.optimize"],
        "stage.vacuum_s": dur["stage.vacuum"],
        "deltareader.read_s": dur["deltareader.scan"],
        "sources.write_raw_s": dur["sources.write_raw"],
        "sources.raw_mb": inspect.get("raw_mb", 0.0),
        "pipeline.table_pipeline_s": dur["pipeline.run_table_pipeline"],
        "pipeline.dedup_kept_frac": inspect.get("staged_rows", 0) / landed if landed else 0.0,
        "stage.overwrite_s": dur["stage.overwrite"],
        "strategy.plan_ms": dur["strategy.plan_extraction"] * 1e3,
        "strategy.kept_frac": landed / inspect["offered_rows"] if inspect.get("offered_rows") else 0.0,
        "graph.cc_s": dur["graph.cc"],
        "trace.spans": len(spans),
    }
    for step in CORPUS_STEPS:
        out[f"corpus.{step}_s"] = inspect.get(f"corpus.{step}_s", 0.0)
    for k, v in layer_metrics(spans, counters, LAYERS).items():
        out[_RENAMED.get(k, k)] = v
    return out


def metric_names() -> list[str]:
    """Every per-layer metric name, in output order."""
    return sorted(pass_metrics([], {}, {}))


UNITS = {
    "_ms": "ms", "_s": "s", "_mb": "MB", "mb_written": "MB", "_frac": "ratio",
    "files": "count", "files_written": "count", "in_flight": "count",
    "jobs": "count", ".tasks": "count", ".spans": "count",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)
