"""Spark side of the benchmark: session set-up, runner passes, the golden
gate, the resume probe and the extraction-stage legs.

Every call goes through the program's public entry points:
``session.get_spark``, ``sources.load_transcripts``,
``resume.run_resumable``/``read_output``/``read_ledger`` and
``extract.run_extraction``.
"""

from __future__ import annotations

import time

from pyspark import SparkContext
from pyspark.sql import functions as F

import procfs
from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA, run_extraction
from pdfparse_spark.pipeline.resume import read_ledger, read_output, run_resumable
from pdfparse_spark.pipeline.session import get_spark
from pdfparse_spark.sources import load_transcripts

# run_extract's bucket count and salt, in two waves of four buckets
N_BUCKETS = 8
BUCKETS_PER_WAVE = 4
SALT = 64
# resume probe layout: two waves, the first one committed before the crash
PROBE_BUCKETS = 2
PROBE_BUCKETS_PER_WAVE = 1

PHASE = "perfbench.phase"
_KEYS = ("conv_id", "turn_idx")
_COMPARED = tuple(f.name for f in OUTPUT_SCHEMA.fields if f.name not in _KEYS)

now = time.perf_counter


class Session:
    """One SparkSession in its own JVM, started and warmed up as
    ``run_extract --warmup`` does; ``setup_s`` is the time that took."""

    def __init__(self, cores: int, work: dict, input_dir: str, event_dir: str | None = None):
        conf = {
            "spark.local.dir": work["spark_local"],
            "spark.sql.warehouse.dir": work["warehouse"],
        }
        if event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.cores = cores
        self.partitions = 4 * cores
        self._others = set(procfs.tree())
        t0 = now()
        self.spark = get_spark(master="local[%d]" % cores, app_name="perfbench", extra_conf=conf)
        try:
            self.spark.sparkContext.setLogLevel("ERROR")
            self.df = load_transcripts(self.spark, input_dir)
            run_extraction(
                self.df.limit(2 * self.partitions), num_partitions=self.partitions
            ).agg(F.count("*")).collect()
        except BaseException:
            self.stop()
            raise
        self.setup_s = now() - t0

    def phase(self, name: str | None) -> None:
        """Tag the following jobs in the event log."""
        self.spark.sparkContext.setLocalProperty(PHASE, name)

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        spark_pids = set(procfs.tree()) - self._others
        self.spark.stop()
        gateway = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)
        procfs.wait_gone(spark_pids)

    # --- the production runner ---------------------------------------------

    def runner_pass(self, root: str) -> dict:
        """One ``run_resumable`` over the whole input into a fresh out dir."""
        out, ledger = root + "/extracted", root + "/ledger"
        c0 = procfs.cpu_seconds()
        t0 = now()
        stats = run_resumable(
            self.spark, self.df, out, ledger,
            n_buckets=N_BUCKETS, buckets_per_wave=BUCKETS_PER_WAVE,
            num_partitions=self.partitions, salt=SALT,
        )
        wall = now() - t0
        return {
            "out": out, "ledger": ledger, "wall_s": wall,
            "cpu_s": procfs.cpu_seconds() - c0,
            "turns": stats["turns_processed"], "waves": stats["waves_run"],
        }

    def timed_passes(self, root: str, seconds: float, tracer, tag: str,
                     phase: str | None = None) -> tuple[dict, list[dict]]:
        """(warm-up pass, timed passes).  The first runner pass of a session
        pays several seconds of one-off cost (the JVM compiling the runner's
        paths: parquet write, shuffle, ledger), so it runs untimed.  Then
        passes until ``seconds`` have elapsed (at least one).  ``phase`` tags
        the timed passes' jobs in the event log."""
        with tracer.span("resume.warmup"):
            warm = self.runner_pass("%s/%s_warm" % (root, tag))
        self.phase(phase)
        passes: list[dict] = []
        start = now()
        while not passes or now() - start < seconds:
            with tracer.span("resume.run_resumable"):
                passes.append(self.runner_pass("%s/%s%d" % (root, tag, len(passes))))
        self.phase(None)
        return warm, passes

    # --- correctness ---------------------------------------------------------

    def golden_gate(self, golden_dir: str, outputs: list[dict]) -> tuple[int, int]:
        """(expected turns, mismatching turns) over the committed output of
        every run in ``outputs`` (dicts with ``out``, ``ledger`` and, for a
        run over a subset of conversations, ``convs``).  A turn mismatches
        when it is missing, committed more than once, not expected, or
        differs from its golden in any output column.  Rows are compared by
        the sha-256 of their JSON form, so only keys and digests shuffle."""
        spark = self.spark

        def digest(df):
            return df.select(*_KEYS, F.sha2(F.to_json(F.struct(*_COMPARED)), 256).alias("h"))

        gold = digest(spark.read.parquet(golden_dir))
        expected = got = None
        for i, run in enumerate(outputs):
            exp = gold if "convs" not in run else gold.filter(F.col("conv_id").isin(run["convs"]))
            exp = exp.select("*", F.lit(i).alias("run"), F.col("h").alias("g"))
            out = digest(read_output(spark, run["out"], run["ledger"])).withColumn("run", F.lit(i))
            expected = exp if expected is None else expected.unionByName(exp)
            got = out if got is None else got.unionByName(out)
        got = got.groupBy("run", *_KEYS).agg(F.count("*").alias("n"), F.first("h").alias("o"))
        j = expected.drop("h").join(got, ["run", *_KEYS], "full_outer")
        bad = (
            F.when(F.col("n").isNull(), 1)
            .when(F.col("g").isNull(), F.col("n"))
            .otherwise(F.col("n") - 1 + F.when(F.col("o") == F.col("g"), 0).otherwise(1))
        )
        row = j.agg(F.count("g").alias("expected"), F.sum(bad).alias("bad")).collect()[0]
        return int(row["expected"]), int(row["bad"] or 0)

    def resume_probe(self, root: str, convs: list[str]) -> dict:
        """Crash a run after its first committed wave, rerun it into the same
        out dir and check that the rerun skips exactly the committed buckets
        and reprocesses none.  The golden gate then checks its output, which
        makes it equal to an uninterrupted run's."""
        spark = self.spark
        sub = self.df.filter(F.col("conv_id").isin(convs))
        out, ledger = root + "/extracted", root + "/ledger"
        kw = dict(n_buckets=PROBE_BUCKETS, buckets_per_wave=PROBE_BUCKETS_PER_WAVE,
                  num_partitions=self.partitions, salt=SALT)
        crashed = False
        try:
            run_resumable(spark, sub, out, ledger, fail_after_waves=1, **kw)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
            crashed = True
        committed = {r["bucket"] for r in read_ledger(spark, ledger).select("bucket").collect()}
        stats = run_resumable(spark, sub, out, ledger, **kw)
        buckets = [r["bucket"] for r in read_ledger(spark, ledger).select("bucket").collect()]
        reprocessed = len(buckets) - len(set(buckets))
        failed = []
        if not crashed:
            failed.append("resume probe: the injected failure did not fire")
        if stats["buckets_skipped"] != len(committed):
            failed.append("resume probe: skipped %d buckets, %d were committed"
                          % (stats["buckets_skipped"], len(committed)))
        if reprocessed:
            failed.append("resume probe: %d buckets reprocessed" % reprocessed)
        if set(buckets) != set(range(PROBE_BUCKETS)):
            failed.append("resume probe: buckets %s committed, expected all %d"
                          % (sorted(set(buckets)), PROBE_BUCKETS))
        return {"out": out, "ledger": ledger, "convs": convs,
                "reprocessed": reprocessed, "failed": failed}

    # --- the extraction stage alone ------------------------------------------

    def extract_rate(self, num_partitions: int | None) -> float:
        """turns/s of ``run_extraction`` over the input parquet, counted,
        not written; ``None`` partitions means no salted repartition."""
        t0 = now()
        n = run_extraction(self.df, num_partitions=num_partitions, salt=SALT).agg(
            F.count("*")).collect()[0][0]
        return n / (now() - t0)

    def wave_ms(self, passes: list[dict]) -> list[list[int]]:
        """Per pass, the ledger's own per-wave wall times (one ledger row
        per bucket, the wave's wall_ms repeated on each)."""
        ledgers = None
        for i, p in enumerate(passes):
            led = read_ledger(self.spark, p["ledger"]).select("wave", "wall_ms", F.lit(i).alias("p"))
            ledgers = led if ledgers is None else ledgers.unionByName(led)
        out: list[list[int]] = [[] for _ in passes]
        for r in ledgers.distinct().collect():
            out[r["p"]].append(r["wall_ms"])
        return out
