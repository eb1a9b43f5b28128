"""The workloads: seeded inputs, one timed pass, output checks.

Each workload drives the engine only through its public entry points
(``ProcessRunner.run_process`` with a ``WatermarkStore``, ``read_delta``,
``CorpusPipeline.run``). Set-up is ``generate`` (repeated, inputs only)
followed by ``warm`` (once: for ingest the day-0 landing every pass
starts from; nothing for curation, whose first pass runs cold). A pass
runs in a fresh directory; the checks and inspections run after the
pass's clock stops.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote

import duckdb
import pyarrow.parquet as pq

from perfbench import gen

PROCESS_ID = "NIGHTLY"

#: the nightly process group: incremental fact tables (watermark +
#: MERGE by id) next to a full dimension table (FILTER_EXP semijoin to
#: companias, overwrite); 5 to 60 source columns, two partitioned. Three
#: tables on four cores keep every table in flight without queueing.
INGEST_TABLES = [
    gen.TableSpec("i_pedido", 17, 20000, partition="processperiod", incremental=True),
    gen.TableSpec("i_cliente", 5, 8000, incremental=True),
    gen.TableSpec("f_maestro", 60, 3000, partition="id_compania", filtered=True),
]
INGEST_DAYS = 2  # synthetic days per timed pass, after day 0
NEW_FRAC = 0.02  # new keys per day, share of the base load
UPDATE_FRAC = 0.03  # existing keys updated per day
#: VACUUM retention: with the clock advancing a day per day, files
#: superseded two days back are swept
VACUUM_HOURS = 24.0
#: scans of the outputs after each day (ingest) or run (curation); they
#: count in the day's time, and each is one read_s sample
READ_REPEATS = 3

#: the pass is dominated by the pipeline's fixed per-job cost, so more
#: documents lengthen it without steadying it
CORPUS_DOCS = 1000
CORPUS_DUP_FRAC = 0.1
CORPUS_STEPS = ("clean", "dedup", "semdedup", "split", "shard")


class SyntheticClock:
    """The clock every engine component reads: 02:00 UTC of the current
    synthetic day, constant within a day."""

    def __init__(self, day: int = 0):
        self.day = day

    def __call__(self) -> dt.datetime:
        d = gen.DAY0 + dt.timedelta(days=self.day)
        return dt.datetime(d.year, d.month, d.day, 2, tzinfo=dt.timezone.utc)


@dataclass
class PassResult:
    #: each time is taken twice: wall seconds, and CPU seconds of the
    #: driver's process tree (tree_cpu_s)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    rows: int = 0  # input rows consumed by the pass
    day_s: list[float] = field(default_factory=list)
    day_cpu_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)  # wall only
    units: int = 0  # table-days or pipeline steps attempted
    failed_units: int = 0
    checks: int = 0
    failed_checks: list[str] = field(default_factory=list)
    written_bytes: int = 0
    live_bytes: int = 0
    #: end-of-pass inspection numbers for the traced run
    inspect: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(what)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the Spark JVM, its Python workers, and the children they reaped.
    Unlike wall time it leaves out time the host's other tenants held
    the cores."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            raw = Path(f"/proc/{d}/stat").read_text()
        except OSError:  # exited while listing
            continue
        f = raw[raw.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(map(int, f[11:15]))  # utime stime cutime cstime
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children[pid]
    return total / os.sysconf("SC_CLK_TCK")


def clocks() -> tuple[float, float]:
    """(wall, CPU) seconds, to be differenced."""
    return time.perf_counter(), tree_cpu_s()


def reset_session_state(spark) -> None:
    """Drop cached plans and lingering RDD blocks a prior pass left."""
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for k in persistent.keySet().toArray():
        rdd = persistent.get(k)
        if rdd is not None:
            rdd.unpersist(False)


# -- file inspection -------------------------------------------------------


def delta_state(table: Path) -> tuple[dict[str, int], int, dict | None]:
    """Replay a stage table's JSON log: (live file -> size, bytes added
    by every commit, latest metaData)."""
    live: dict[str, int] = {}
    added = 0
    meta = None
    log = table / "_delta_log"
    commits = sorted((p for p in log.glob("*.json") if p.stem.isdigit()),
                     key=lambda p: int(p.stem))
    for p in commits:
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                live[unquote(a["add"]["path"])] = a["add"]["size"]
                added += a["add"]["size"]
            elif "remove" in a:
                live.pop(unquote(a["remove"]["path"]), None)
            elif "metaData" in a:
                meta = a["metaData"]
    return live, added, meta


def data_files(root: Path) -> dict[str, int]:
    """Data file -> size under ``root``, transaction logs excluded."""
    return {
        str(p.relative_to(root)): p.stat().st_size
        for p in root.rglob("*.parquet")
        if "_delta_log" not in p.parts
    }


def parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _rss_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver: this process plus its JVM."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_rss_kb("self") + _rss_kb(jvm)) / 1024


# -- workloads -------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores  # Spark local[k]; also the runner's max_concurrency
        self.inputs: Path | None = None
        self.tracer = None  # set by the traced run

    def generate(self, rep: int) -> None:
        """Write this seed's inputs into a fresh directory."""
        d = self.work / f"inputs-{rep}"
        d.mkdir(parents=True)
        if self.inputs is not None:
            shutil.rmtree(self.inputs)
        self.inputs = d
        self._write_inputs(d)

    def _write_inputs(self, d: Path) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def run_pass(self, pass_dir: Path) -> PassResult:
        raise NotImplementedError

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


class IngestIncremental(Workload):
    """The nightly process group over ``INGEST_DAYS`` synthetic days:
    each day runs ``run_process`` (watermarks, MERGE or overwrite, then
    OPTIMIZE and VACUUM) and then scans every stage table."""

    name = "ingest_incremental"

    def _write_inputs(self, d: Path) -> None:
        comp = gen.write_companias(d, self.seed)
        self.sources = gen.write_sources(d, INGEST_TABLES, self.seed, INGEST_DAYS,
                                         NEW_FRAC, UPDATE_FRAC)
        self.catalog = gen.build_catalog(INGEST_TABLES, PROCESS_ID)
        self.spark.read.parquet(str(comp)).createOrReplaceTempView("companias")
        # rows landed and offered per timed day, key tuples at the end
        self.landed: dict[int, int] = {}
        self.offered: dict[int, int] = {}
        self.final_keys: dict[str, int] = {}
        active = (f"compania in (select compania from read_parquet('{comp}') "
                  "where flgbi = 'a')")
        for s in INGEST_TABLES:
            src = str(self.sources[s.name] / "*" / "*.parquet")
            where = f"where {active}" if s.filtered else ""
            by_day = dict(duckdb.execute(
                f"select src_day, count(*) from read_parquet('{src}', "
                f"hive_partitioning = true) {where} group by all").fetchall())
            total = duckdb.execute(
                f"select count(*) from read_parquet('{src}', hive_partitioning = true) "
                "where src_day = 0").fetchone()[0]
            for day in range(1, INGEST_DAYS + 1):
                on_day = by_day.get(day, 0) if s.incremental else by_day[0]
                self.landed[day] = self.landed.get(day, 0) + on_day
                self.offered[day] = self.offered.get(day, 0) + total + sum(
                    by_day.get(k, 0) for k in range(1, day + 1))
            self.final_keys[s.name] = duckdb.execute(
                f"select count(distinct nropedido) from read_parquet('{src}', "
                f"hive_partitioning = true) {where}").fetchone()[0]

    def warm(self) -> None:
        """Land day 0 into the template every pass copies, and scan it
        once so the read leg starts warm. The MERGE path is first used
        by the pass, as in a nightly job that starts a fresh session
        every night."""
        self.template = self.work / "day0"
        self._run_day(self.template, SyntheticClock(0))
        self._read_leg(self.template / "stage", PassResult(), repeats=1)

    def _runner(self, root: Path, clock: SyntheticClock):
        from cdk_datalake_ingest_bigmagic_spark.plans.watermarks import WatermarkStore
        from cdk_datalake_ingest_bigmagic_spark.runner import ProcessRunner

        return ProcessRunner(
            spark=self.spark, catalog=self.catalog,
            raw_root=str(root / "raw"), stage_root=str(root / "stage"),
            runs_path=str(root / "_runs"), project="perfbench",
            watermarks=WatermarkStore(self.spark, str(root / "_watermarks")),
            max_concurrency=self.cores, clock=clock,
            optimize_after_write=True, vacuum_retention_hours=VACUUM_HOURS,
        )

    def _run_day(self, root: Path, clock: SyntheticClock):
        from pyspark.sql import functions as F

        def provide(tc):
            # the source as of this day: every row version stamped so far
            return (self.spark.read.parquet(str(self.sources[tc.stage_table_name]))
                    .where(F.col("src_day") <= clock.day).drop("src_day"))

        return self._runner(root, clock).run_process(PROCESS_ID, source_provider=provide)

    def _read_leg(self, stage_root: Path, res: PassResult,
                  repeats: int = READ_REPEATS) -> None:
        """Scan each stage table through the log-honoring reader and
        aggregate it, as a downstream reader would: ``repeats`` scans of
        the whole stage, each one read sample."""
        from pyspark.sql import functions as F

        from cdk_datalake_ingest_bigmagic_spark.storage.deltareader import read_delta

        for _ in range(repeats):
            t0 = time.perf_counter()
            for s in INGEST_TABLES:
                with self._span("deltareader.scan"):
                    (read_delta(self.spark, str(stage_root / s.name))
                     .groupBy("id_compania")
                     .agg(F.count("*"), F.max("lastmodifydate"))
                     .collect())
            res.read_s.append(time.perf_counter() - t0)

    def run_pass(self, pass_dir: Path) -> PassResult:
        res = PassResult()
        shutil.copytree(self.template, pass_dir)
        raw_before = set(data_files(pass_dir / "raw"))
        staged = 0
        for day in range(1, INGEST_DAYS + 1):
            t0, c0 = clocks()
            runs = self._run_day(pass_dir, SyntheticClock(day))
            self._read_leg(pass_dir / "stage", res)
            t1, c1 = clocks()
            res.day_s.append(t1 - t0)
            res.day_cpu_s.append(c1 - c0)
            res.wall_s += t1 - t0
            res.cpu_s += c1 - c0
            res.rows += self.landed[day]
            res.units += len(INGEST_TABLES)
            by_name = {r.table: r for r in runs}
            for s in INGEST_TABLES:
                r = by_name.get(s.name)
                res.failed_units += r is None or r.status != "SUCCESS"
                if r is not None:
                    staged += max(r.rows, 0)
                if s.incremental:
                    self._check_watermark(res, pass_dir, s, day)
        for s in INGEST_TABLES:
            self._check_stage(res, pass_dir / "stage" / s.name, s)
        new_raw = [pass_dir / "raw" / p
                   for p in set(data_files(pass_dir / "raw")) - raw_before]
        landed = parquet_rows(new_raw)
        res.check(landed == res.rows, f"raw rows {landed}, want {res.rows}")
        disk = sum(data_files(pass_dir / "stage").values())
        res.inspect = {
            "landed_rows": landed,
            "offered_rows": sum(self.offered[d] for d in range(1, INGEST_DAYS + 1)),
            "staged_rows": staged,
            "raw_mb": sum(p.stat().st_size for p in new_raw) / 2**20,
            "tombstone_mb": (disk - res.live_bytes) / 2**20,
            "watermark_files": len(list((pass_dir / "_watermarks").glob("*.parquet"))),
        }
        return res

    # -- checks --------------------------------------------------------------

    def _check_watermark(self, res: PassResult, root: Path, spec, day: int) -> None:
        """The confirmed bookmark is the day's stamp: it moved forward by
        exactly one day."""
        files = [str(p) for p in (root / "_watermarks").glob("*.parquet")]
        row = duckdb.execute(
            "select value from read_parquet(?) where table_name = ? and "
            "state = 'confirmed' order by version desc limit 1",
            [files, spec.name],
        ).fetchone()
        want = str(gen.magic_of(gen.DAY0 + dt.timedelta(days=day)))
        got = row[0] if row else None
        res.check(got == want, f"{spec.name} day {day}: watermark {got}, want {want}")

    def _check_stage(self, res: PassResult, table: Path, spec) -> None:
        """Row count and distinct id tuples match the source, types match
        the declared ones, and (incremental) every id carries its latest
        update's marker."""
        from cdk_datalake_ingest_bigmagic_spark.functions.compiler import (
            spark_type_for,
        )

        live, added, meta = delta_state(table)
        res.written_bytes += added
        res.live_bytes += sum(live.values())
        files = [str(table / p) for p in live]
        rows, keys = duckdb.execute(
            "select count(*), count(distinct (id_compania, id_sucursal, id_pedido)) "
            "from read_parquet(?, hive_partitioning = true, hive_types_autocast = false)",
            [files],
        ).fetchone()
        want = self.final_keys[spec.name]
        res.check(rows == want and keys == want,
                  f"{spec.name}: {rows} rows / {keys} id tuples, want {want}")
        declared = {r["COLUMN_NAME"]: spark_type_for(r["NEW_DATA_TYPE"]).jsonValue()
                    for r in gen.column_rows(spec)}
        fields = json.loads(meta["schemaString"])["fields"] if meta else []
        # a partitioned rewrite moves the partition column last
        res.check(declared == {f["name"]: f["type"] for f in fields},
                  f"{spec.name}: stage schema differs from the declared types")
        if spec.incremental:
            stale = duckdb.execute(
                "with src as (select nropedido, max(lote) as lote from "
                "read_parquet(?, hive_partitioning = true) group by nropedido) "
                "select count(*) from read_parquet(?, hive_partitioning = true, "
                "hive_types_autocast = false) st join src "
                "on st.id_pedido = cast(src.nropedido as varchar) "
                "where st.lote <> src.lote",
                [str(self.sources[spec.name] / "*" / "*.parquet"), files],
            ).fetchone()[0]
            res.check(stale == 0, f"{spec.name}: {stale} ids lost their latest update")


class CurationNightly(Workload):
    """CorpusPipeline.run over documents joined with embeddings, then a
    scan of the published shards."""

    name = "curation_nightly"

    def _write_inputs(self, d: Path) -> None:
        self.docs_path, self.emb_path = gen.write_corpus(
            d, self.seed, CORPUS_DOCS, CORPUS_DUP_FRAC)

    def warm(self) -> None:
        """None: the timed pass is the nightly run in a fresh session,
        first-use cost included, as users pay it every night. That cost
        is most of the run at any corpus size (a discarded warm run took
        twice the pass's wall time), and a cold pass spread less from
        run to run than the warm pass after it."""

    @staticmethod
    def _config():
        from cdk_datalake_ingest_bigmagic_spark.plans.corpus import (
            CorpusPipelineConfig,
        )

        return CorpusPipelineConfig(semantic_dedup=True)

    def _docs(self):
        docs = self.spark.read.parquet(str(self.docs_path))
        emb = self.spark.read.parquet(str(self.emb_path))
        return docs.join(emb, docs["doc_id"] == emb["vec_id"]).drop("vec_id", "label")

    def run_pass(self, pass_dir: Path) -> PassResult:
        from pyspark.sql import functions as F

        from cdk_datalake_ingest_bigmagic_spark.plans.corpus import (
            MANIFEST,
            TRAINING_MANIFEST,
            CorpusPipeline,
        )

        res = PassResult()
        out = pass_dir / "corpus"
        t0, c0 = clocks()
        results = CorpusPipeline(self.spark, str(out), self._config()).run(self._docs())
        for _ in range(READ_REPEATS):
            r0 = time.perf_counter()
            with self._span("corpus.scan"):
                (self.spark.read.parquet(str(out / "shard")).groupBy("split")
                 .agg(F.count("*"), F.sum(F.length("text"))).collect())
            res.read_s.append(time.perf_counter() - r0)
        t1, c1 = clocks()
        res.wall_s, res.cpu_s = t1 - t0, c1 - c0
        res.day_s.append(res.wall_s)
        res.day_cpu_s.append(res.cpu_s)
        res.rows = CORPUS_DOCS
        res.units = len(CORPUS_STEPS)

        for step in CORPUS_STEPS:
            mpath = out / step / MANIFEST
            if step not in results or not mpath.exists():
                res.failed_units += 1
                continue
            manifest = json.loads(mpath.read_text())
            res.inspect[f"corpus.{step}_s"] = float(manifest["seconds"])
            n = parquet_rows((out / step).rglob("*.parquet"))
            res.check(n == manifest["rows"],
                      f"{step}: {n} rows on disk, manifest says {manifest['rows']}")
            res.written_bytes += sum(data_files(out / step).values())
        overlap, n, ids = duckdb.execute(
            "with t as (select doc_id, split from read_parquet(?, hive_partitioning = true)) "
            "select (select count(*) from (select doc_id from t group by doc_id "
            "having count(distinct split) > 1)), "
            "(select count(*) from t), (select count(distinct doc_id) from t)",
            [str(out / "shard" / "**" / "*.parquet")],
        ).fetchone()
        res.check(overlap == 0 and n == ids, f"split sets overlap on {overlap} ids")
        total = json.loads((out / TRAINING_MANIFEST).read_text())["total_rows"]
        res.check(total == n, f"training manifest {total} rows, shard has {n}")
        res.check(0 < n < CORPUS_DOCS, f"{n} documents survived of {CORPUS_DOCS}")
        res.live_bytes = sum(data_files(out / "shard").values())
        return res


WORKLOADS = {w.name: w for w in (IngestIncremental, CurationNightly)}
