"""Streaming-ingest benchmark: Kafka-shaped bundle backlog -> lakehouse.

Usage (from the repository root):

    python3 streambench/run.py --workload backfill_bundles --seed 1 \\
        --seconds 40 --trace 0

Drives the real stream shell, ``BundlePipeline.start_stream(...,
available_now=True)``, over a parquet file source holding one input
file per micro-batch, reads the stored lakehouse back, and checks
every table, dead letter and read-set answer against ``model.Model``.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A mismatch prints
``"correct": false`` and exits 1. See README.md for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import model as M
from instrument import FileLedger, Process, Tracer, call_after, warehouse_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill_bundles", "trickle_large_table")
VIEWS = ("observation_flat", "patient_flat")
LOOKUP_TABLES = ("Patient", "Observation")
LOOKUP_DESCRIPTION = "streambench-lookup"
MIN_READ_PASSES = 3
CPUS = 4
DRIVER_MEM = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured phase: ingest, then read passes until this much time has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (self-tests use a tiny one)")
    p.add_argument("--master", default=f"local[{CPUS}]")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Session settings and scratch locations, all inside the checkout;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_PARQUET_CODEC="zstd",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata under /tmp; JVM scratch files stay in the checkout.
        # A fixed set of JIT compiler threads, so their CPU can be read
        # per thread and kept out of the program's own (Process.jit_cpu_s)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
        # few glibc arenas: the JVM's resident size then varies less
        # from run to run with how its threads happened to allocate
        MALLOC_ARENA_MAX="2",
    )
    os.environ.pop("SPARK_MASTER", None)


class Run:
    def __init__(self, args, work: str, out_dir: str):
        self.args = args
        self.work = work
        self.out_dir = out_dir
        self.trace = bool(args.trace)
        self.views = {}
        for view in VIEWS:
            with open(os.path.join(ROOT, "viewdefs", f"{view}.json")) as f:
                self.views[view] = json.load(f)

    def cpu_s(self) -> float:
        """CPU seconds of the JVM, without its JIT compiler threads, and
        of this process so far."""
        return self.proc.jvm_cpu_s() - self.proc.jit_cpu_s() + time.process_time()

    @staticmethod
    def phase(name: str, t0: float) -> None:
        print(f"streambench: {name} done at {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    # -- set-up ---------------------------------------------------------------

    def start_session(self):
        from fhir_to_lakehouse_spark.session import get_spark

        self.spark = get_spark(
            "streambench",
            master=self.args.master,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: the resident peak then depends on
                # what the run allocates, not on when G1 chose to grow
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = Process(self.spark)

    def make_inputs(self, seed: int, prefix: str, sizes, src: str):
        """Generate one workload's batches (and the trickle base batches)
        and write them as files; returns (base, batches, input bytes)."""
        g = gen.Generator(seed, id_prefix=prefix)
        base = []
        if self.args.workload == "backfill_bundles":
            batches = gen.backfill_batches(g, sizes)
        else:
            base = gen.base_batches(g, sizes)
            batches = gen.trickle_batches(g, sizes)
            gen.write_batches(base, os.path.join(src, "base"))
        nbytes = gen.write_batches(batches, os.path.join(src, "stream"))
        return base, batches, nbytes

    def pipeline(self, name: str):
        from fhir_to_lakehouse_spark.streaming.pipeline import BundlePipeline, PipelineConfig

        cfg = PipelineConfig(
            warehouse_dir=os.path.join(self.work, name, "warehouse"),
            checkpoint_dir=os.path.join(self.work, name, "checkpoints"),
        )
        return BundlePipeline(self.spark, cfg)

    def stream_source(self, src: str):
        from fhir_to_lakehouse_spark.schemas import KAFKA_RECORD_SCHEMA

        return (
            self.spark.readStream.schema(KAFKA_RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "stream"))
        )

    def build_base(self, pipe, src: str, base: list, model) -> None:
        """Trickle set-up: the large starting tables, through the
        pipeline's own batch core, one call per base batch (negative
        batch ids: no upkeep); the model replays the same batches."""
        for i, batch in enumerate(base):
            batch_id = i - len(base)
            path = os.path.join(src, "base", f"batch-{i:05d}.parquet")
            pipe.process_batch(self.spark.read.parquet(path), batch_id)
            model.replay(batch, batch_id)

    def ingest(self, pipe, src: str, name: str, on_batch=None):
        """Run the stream to the end of its backlog; returns the
        progress of every batch that had input."""
        if on_batch is not None:
            core = pipe.process_batch

            def process_batch(df, batch_id):
                on_batch(core, df, batch_id)

            pipe.process_batch = process_batch  # start_stream binds it
        q = pipe.start_stream(self.stream_source(src), query_name=name, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {name} failed: {q.exception()}")
        return [p for p in q.recentProgress if p.numInputRows > 0]

    # -- read set ---------------------------------------------------------------

    def read_pass(self, pipe, lookups, stats: dict) -> list[tuple]:
        """One timed pass over the read set; returns its answers, one
        per query, for ``check_answers``. Lookups run under the job
        description ``LOOKUP_DESCRIPTION``, which the traced run reads
        back."""
        from fhir_to_lakehouse_spark.operators.view_definition import compile_view

        answers = []
        sc = self.spark.sparkContext
        sc.setJobDescription(LOOKUP_DESCRIPTION)
        for rtype, rid in lookups:
            t = time.perf_counter()
            rows = pipe.table(rtype).to_df().filter(F.col("id") == rid).select("resource_json").collect()
            stats["lookup_s"].append(time.perf_counter() - t)
            answers.append(("lookup", (rtype, rid), [r[0] for r in rows]))
        sc.setJobDescription(None)
        compile_s = scan_s = 0.0
        rows_out = 0
        for view, spec in self.views.items():
            t = time.perf_counter()
            flat = compile_view(spec, pipe.table(spec["resource"]).to_df())
            t1 = time.perf_counter()
            got = flat.toArrow()
            t2 = time.perf_counter()
            compile_s += t1 - t
            scan_s += t2 - t1
            rows_out += got.num_rows
            answers.append(("view", view, got))
        t = time.perf_counter()
        agg = (
            pipe.table("Observation").to_df()
            .groupBy(F.col("subject.reference").alias("ref"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("valueQuantity.value").alias("total"))
            .toArrow()
        )
        stats["agg_s"].append(time.perf_counter() - t)
        answers.append(("per_patient", None, agg))
        stats["compile_s"].append(compile_s)
        stats["scan_s"].append(scan_s)
        stats["rows_out"] = rows_out
        return answers

    @staticmethod
    def check_answers(model, answers: list[tuple]) -> None:
        for kind, what, got in answers:
            if kind == "lookup":
                M.check_lookup(model, *what, got)
            elif kind == "view":
                want = model.observation_flat() if what == "observation_flat" else model.patient_flat()
                M.check_view(what, want, [tuple(r.values()) for r in got.to_pylist()])
            else:
                M.check_per_patient(model, {r["ref"]: (r["n"], r["total"]) for r in got.to_pylist()})

    def check_tables(self, pipe, model) -> None:
        for rtype in sorted(model.tables):
            df = pipe.table(rtype).to_df()
            cols = [F.col("id"), F.col("resource_json")]
            if rtype == "Observation":
                cols += [F.col("status"), F.col("valueQuantity.value").alias("value")]
            if rtype == "Patient":
                cols += [F.col("gender")]
            M.check_table(model, rtype, df.select(*cols).toArrow().to_pylist())
        wh = pipe.cfg.warehouse_dir
        corrupt = resources = []
        if os.path.exists(os.path.join(wh, "_corrupt.parquet")):
            corrupt = [(r["partition"], r["offset"]) for r in pipe.corrupt_records().select("partition", "offset").toArrow().to_pylist()]
        if os.path.exists(os.path.join(wh, "_corrupt_resources.parquet")):
            resources = [
                (r["batch_id"], r["resource_type"], r["raw_resource"])
                for r in pipe.corrupt_resources().toArrow().to_pylist()
            ]
        M.check_dead_letters(model, corrupt, resources)

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

        a = self.args
        backfill = a.workload == "backfill_bundles"
        full = gen.BACKFILL if backfill else gen.TRICKLE
        sizes = gen.scaled(full, a.scale)

        # --- set-up: session, inputs, then the trickle base tables or
        # the backfill warm-up stream
        t0 = time.perf_counter()
        self.start_session()
        self.phase("session", t0)
        src = os.path.join(self.work, "src")
        base, batches, input_bytes = self.make_inputs(a.seed, "", sizes, src)
        self.phase("inputs", t0)
        pipe = self.pipeline("measured")
        model = M.Model()
        if base:
            # building the tables (create, then merge) is its warm-up
            self.build_base(pipe, src, base, model)
        else:
            # a one-batch stream of the workload's shape, upkeep included
            # (it is batch 0), on a warehouse of its own
            warm_src = os.path.join(self.work, "warm-src")
            self.make_inputs(a.seed + 1_000_003, "w", gen.warmup(full), warm_src)
            self.ingest(self.pipeline("warm"), warm_src, "warmup")
        setup_s = time.perf_counter() - t0
        self.phase("set-up", t0)

        # --- measured ingest
        tracer = Tracer()
        ledger = FileLedger(pipe.cfg.warehouse_dir, read_footers=self.trace)
        for name in ("merge_upsert", "merge_delete", "optimize"):
            call_after(KeyedTable, name, lambda: ledger.active and ledger.snapshot())
        layer = Layers(self, pipe, tracer) if self.trace else None

        def on_batch(core, df, batch_id):
            ledger.batch = batch_id
            tracer.trace = batch_id
            if layer and batch_id % 2 == 0:
                layer.force(df, batches[batch_id])
            if layer:
                layer.run_core(core, df, batch_id)
            else:
                core(df, batch_id)
            ledger.snapshot()

        ledger.start()
        cpu0 = (self.proc.jvm_cpu_s(), time.process_time(), self.proc.gc_s(), self.proc.jit_cpu_s())
        c = self.cpu_s()
        t_measure = time.perf_counter()
        progress = self.ingest(pipe, src, "measured", on_batch)
        self.phase("ingest", t0)
        ingest_cpu = self.cpu_s() - c
        ledger.active = False
        for batch_id, b in enumerate(batches):
            model.replay(b, batch_id)

        # --- read set: one warm-up pass (it compiles the read path), then
        # whole timed passes until --seconds have passed, at least three
        rng = random.Random(a.seed)
        lookups = []
        for rtype in LOOKUP_TABLES:
            live = sorted(model.tables.get(rtype, {}))
            gone = sorted(model.deleted.get(rtype, set()) - set(live)) or [f"never-written-{a.seed}"]
            lookups += [(rtype, rng.choice(live)), (rtype, rng.choice(gone))]
        stats = {"lookup_s": [], "agg_s": [], "compile_s": [], "scan_s": [], "read_s": [], "read_cpu_s": []}
        passes = [self.read_pass(pipe, lookups, {k: [] for k in stats})]
        while len(passes) < 1 + MIN_READ_PASSES or time.perf_counter() - t_measure < a.seconds:
            t, c = time.perf_counter(), self.cpu_s()
            passes.append(self.read_pass(pipe, lookups, stats))
            stats["read_s"].append(time.perf_counter() - t)
            stats["read_cpu_s"].append(self.cpu_s() - c)
        queries = sum(len(p) for p in passes)
        cpu1 = (self.proc.jvm_cpu_s(), time.process_time(), self.proc.gc_s(), self.proc.jit_cpu_s())
        correct = True
        try:
            for answers in passes:
                self.check_answers(model, answers)
            self.phase("read passes", t0)
            self.check_tables(pipe, model)
            self.phase("checks", t0)
        except M.Mismatch as exc:
            print(f"MISMATCH: {exc}", file=sys.stderr)
            correct = False

        # --- metrics
        measured = [p for p in progress if p.batchId < len(batches)]
        if len(measured) != len(batches):
            raise RuntimeError(f"{len(measured)} batches ran, {len(batches)} expected")
        # wall times go to stderr only: see README, "Why CPU and not wall time"
        trig = [p.durationMs["triggerExecution"] / 1000 for p in measured]
        entries = sum(len(b.events) for b in batches)
        print(f"streambench: batch seconds {trig}, median {statistics.median(trig)}, "
              f"entries per second {entries / sum(trig)}", file=sys.stderr)
        print(f"streambench: read pass seconds {stats['read_s']}, CPU seconds {stats['read_cpu_s']}", file=sys.stderr)
        new_bytes = sum(f.size for f in ledger.new)
        stored, table_files = warehouse_bytes(pipe.cfg.warehouse_dir)
        result = {
            "correct": correct,
            "attempted": len(batches) + queries,
            "failed": 0,
        }
        if not self.trace:
            m = {
                "setup_s": (setup_s, "s"),
                "ingest_cpu_ms_per_entry": (1000 * ingest_cpu / entries, "ms"),
                "read_cpu_s": (statistics.median(stats["read_cpu_s"]), "s"),
                "bytes_written_per_input_byte": (new_bytes / input_bytes, "B/B"),
                "stored_bytes_per_live_byte": (stored / model.live_json_bytes(), "B/B"),
                "peak_rss_mb": (self.proc.peak_rss_mb(), "MB"),
            }
        else:
            m = layer.metrics(
                measured, ledger, model, stats, table_files,
                gc_s=cpu1[2] - cpu0[2], jvm_cpu_s=cpu1[0] - cpu0[0], py_cpu_s=cpu1[1] - cpu0[1],
                jit_cpu_s=cpu1[3] - cpu0[3],
            )
            os.makedirs(self.out_dir, exist_ok=True)
            tracer.dump(os.path.join(self.out_dir, f"trace-{a.workload}-{a.seed}.jsonl"))
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        return result

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Layers:
    """The traced run: spans around each layer's public calls, the
    bundle operators forced one at a time into a ``noop`` sink, and
    Spark's own per-batch bookkeeping."""

    def __init__(self, run: Run, pipe, tracer):
        import fhir_to_lakehouse_spark.operators.bundles as bundles
        import fhir_to_lakehouse_spark.streaming.pipeline as pipeline_mod
        from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

        self.run, self.pipe, self.tracer = run, pipe, tracer
        # the forcing pass calls the operators unwrapped
        self.ops = {
            name: getattr(bundles, name)
            for name in ("parse_bundles", "explode_entries", "latest_per_key", "encode_resources", "split_by_method")
        }
        self.proc = run.proc
        self.spark = run.spark
        self.forced: dict[str, list[float]] = {"parse_explode": [], "dedup": [], "encode": []}
        self.entries: list[int] = []
        self.winners: list[int] = []
        self.shuffle_bytes: list[int] = []
        self.jobs: list[int] = []
        self.cached_peak = 0.0
        self.core_s: list[float] = []
        core = "pipeline.process_batch"
        for name in ("parse_bundles", "explode_entries"):
            tracer.wrap(bundles, name, f"bundles.{name}", core)
        for name in ("latest_per_key", "encode_resources"):
            tracer.wrap(pipeline_mod, name, f"bundles.{name}", core)
        for name in ("merge_upsert", "merge_delete", "optimize", "vacuum"):
            tracer.wrap(KeyedTable, name, f"keyed_table.{name}", core)
        tracer.wrap(pipe, "upkeep", "pipeline.upkeep", core)

    def _noop(self, df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def force(self, df, batch) -> None:
        """Each bundle operator in turn on this batch frame; the
        increments are the operator's own cost. Run on every other
        batch, to keep the traced run within its time budget."""
        ops = self.ops
        t_src = self._noop(df)
        obs_e, obs_w = Observation(), Observation()
        prepared = ops["explode_entries"](ops["parse_bundles"](df))
        t_pe = self._noop(prepared.observe(obs_e, F.count(F.lit(1)).alias("n")))
        s0 = self.proc.stages_submitted()
        deduped = ops["latest_per_key"](prepared).persist()
        t_dd = self._noop(deduped.observe(obs_w, F.count(F.lit(1)).alias("n")))
        self.shuffle_bytes.append(self.proc.shuffle_write_bytes(s0, self.proc.stages_submitted()))
        t_enc = 0.0
        for rt in sorted({ev.rtype for ev in batch.events if ev.method == "PUT"}):
            puts, _ = ops["split_by_method"](deduped.filter(F.col("resource_type") == rt))
            t_enc += self._noop(ops["encode_resources"](puts, rt))
        deduped.unpersist(blocking=True)
        self.forced["parse_explode"].append(t_pe - t_src)
        self.forced["dedup"].append(t_dd - t_pe)
        self.forced["encode"].append(t_enc)
        self.entries.append(obs_e.get["n"])
        self.winners.append(obs_w.get["n"])

    def run_core(self, core, df, batch_id: int) -> None:
        """The real batch, under a span, with its job count and a
        20 Hz sample of cached bytes."""
        done = threading.Event()

        def sample():
            while not done.wait(0.05):
                self.cached_peak = max(self.cached_peak, self.proc.cached_mb())

        sampler = threading.Thread(target=sample, daemon=True)
        j0 = self.proc.jobs_submitted()
        sampler.start()
        t = time.perf_counter()
        try:
            core(df, batch_id)
        finally:
            end = time.perf_counter()
            done.set()
            sampler.join(timeout=10)
        self.tracer.record("pipeline.process_batch", t, end, None)
        self.core_s.append(end - t)
        self.jobs.append(self.proc.jobs_submitted() - j0)

    def metrics(self, measured, ledger, model, stats, table_files, gc_s, jvm_cpu_s, py_cpu_s, jit_cpu_s) -> dict:
        med = statistics.median
        n = len(measured)
        first = len(model.changed) - n  # replayed set-up batches come first
        changed = model.changed[first:]
        written: dict[tuple[int, str], int] = {}
        rows_written = data_files = table_bytes = 0
        for f in ledger.new:
            if f.table.startswith("_"):
                continue
            written[(f.batch, f.table)] = written.get((f.batch, f.table), 0) + 1
            table_bytes += f.size
            if f.is_data:
                data_files += 1
                rows_written += f.rows
        rows_changed = sum(sum(c.values()) for c in changed)
        rewrites_without_change = sum(
            1 for (b, t) in written if 0 <= b < n and changed[b].get(t, 0) == 0
        )
        dl = 0
        wh = self.pipe.cfg.warehouse_dir
        for name in ("_corrupt.parquet", "_corrupt_resources.parquet"):
            if os.path.exists(os.path.join(wh, name)):
                dl += self.spark.read.parquet(os.path.join(wh, name)).count()
        files_read = self.proc.scan_files_read(LOOKUP_DESCRIPTION)
        shell = [
            (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000
            for p in measured
        ]
        sp = self.tracer.durations
        return {
            "pipeline.traced_batch_s_p50": (med([p.durationMs["triggerExecution"] / 1000 for p in measured]), "s"),
            "pipeline.process_batch_s_p50": (med(self.core_s), "s"),
            "pipeline.shell_s_p50": (med(shell), "s"),
            "pipeline.jobs_per_batch": (statistics.mean(self.jobs), "count"),
            "pipeline.upkeep_s": (sum(sp("pipeline.upkeep")), "s"),
            "pipeline.dead_letter_rows": (dl, "count"),
            "pipeline.cached_mb_peak": (self.cached_peak, "MB"),
            "bundles.parse_explode_s": (med(self.forced["parse_explode"]), "s"),
            "bundles.dedup_s": (med(self.forced["dedup"]), "s"),
            "bundles.encode_s": (med(self.forced["encode"]), "s"),
            "bundles.entries_per_batch": (statistics.mean(self.entries), "count"),
            "bundles.dedup_survival": (sum(self.winners) / sum(self.entries), "ratio"),
            "bundles.dedup_shuffle_bytes": (statistics.mean(self.shuffle_bytes), "B"),
            "keyed_table.merge_upsert_s_p50": (med(sp("keyed_table.merge_upsert") or [0.0]), "s"),
            "keyed_table.merge_delete_s_p50": (med(sp("keyed_table.merge_delete") or [0.0]), "s"),
            "keyed_table.optimize_s": (sum(sp("keyed_table.optimize")), "s"),
            "keyed_table.vacuum_s": (sum(sp("keyed_table.vacuum")), "s"),
            "keyed_table.bytes_written_per_batch": (table_bytes / n, "B"),
            "keyed_table.files_written_per_batch": (data_files / n, "count"),
            "keyed_table.rows_written_per_row_changed": (rows_written / max(rows_changed, 1), "ratio"),
            "keyed_table.rewrites_without_change": (rewrites_without_change, "count"),
            "keyed_table.table_files": (table_files, "count"),
            "read_set.wall_s_p50": (med(stats["read_s"]), "s"),
            "keyed_table.lookup_s_p50": (med(stats["lookup_s"]), "s"),
            "keyed_table.files_read_per_lookup": (statistics.mean(files_read) if files_read else 0.0, "count"),
            "view_definition.compile_s": (med(stats["compile_s"]), "s"),
            "view_definition.scan_s": (med(stats["scan_s"]), "s"),
            "view_definition.rows_out": (stats["rows_out"], "count"),
            "session.gc_s": (gc_s, "s"),
            "session.jvm_cpu_s": (jvm_cpu_s, "s"),
            "session.jit_cpu_s": (jit_cpu_s, "s"),
            "session.python_cpu_s": (py_cpu_s, "s"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    # the program under test: absent from a checkout that holds only the
    # benchmark, and then this fails before printing any result
    import fhir_to_lakehouse_spark.streaming.pipeline  # noqa: F401

    work = os.path.join(ROOT, ".streambench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    run = Run(args, work, os.path.join(ROOT, ".streambench_out"))
    try:
        result = run.run()
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
