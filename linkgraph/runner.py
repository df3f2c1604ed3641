"""Checkpointed, resumable iteration — the engine's run lifecycle.

The reference's driver loop (random.c:128-143) runs construct → iterate →
destruct in one process; a crash loses everything. Our north rule requires
every iteration's vertex state to be durably checkpointed with
per-partition lineage + metrics so a relaunched job resumes mid-algorithm.

An iterative operator that takes a ``store`` commits each round through
``store.checkpointer`` when a durable ``CheckpointStore`` is given, else
through :func:`local_checkpoint`, and a relaunch takes its start round
and state from ``CheckpointStore.resume(bound)``. Operators without a
store cut each round with the same lazy ``localCheckpoint``. The
in-memory cut truncates the logical plan at once; the round's state is
materialized by the first action that consumes it — the round's own
``count``/``isEmpty``/``agg`` convergence test, or else the caller's
write. ``pagerank``, ``label_propagation``, ``k_core`` and
``feature_propagation`` also take a ``checkpointer=`` that replaces
:func:`local_checkpoint`: the seam plan and job-count tests use to
observe a round.

``CheckpointStore.checkpointer`` is the durable commit. Each call:

1. writes the iteration's state to ``{root}/{algo}/{run_id}/iter_NNNNN``
   (parquet by default; ``fmt='iceberg'`` swaps every write/read to
   Iceberg Hadoop tables at the same layout — exercised by
   tests/test_iceberg.py when the iceberg-spark runtime is on the
   classpath, skipped otherwise);
2. re-reads it — which BOTH truncates the logical plan (the iterative-plan
   lineage blowup fix) AND makes the returned DataFrame served from disk,
   so resume and continue see byte-identical state;
3. appends per-partition lineage rows (algo, run_id, iteration,
   partition_id, rows, wall_ms) to ``{root}/_metrics`` — the Spark analog
   of the reference's per-phase rdtsc timing (utils.h:86-94).

Only directories containing the format's commit marker (parquet:
``_SUCCESS``; iceberg: its atomic ``metadata`` dir) count as committed
iterations, so a crash mid-write is invisible to resume (the incomplete
iteration is overwritten and redone).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_checkpoint(df: DataFrame, iteration: int) -> DataFrame:
    """The in-memory commit: a lazy ``localCheckpoint`` that cuts the
    iterative plan's lineage without making the round durable and without
    a job of its own. The cut is materialized by the first action that
    consumes it — the round's ``count``/``isEmpty``/``agg``, or else the
    caller's write — so a round costs one job, not a commit job plus a
    convergence job. With adaptive execution on, making the cut still
    runs the plan's shuffle stages; only its last stage waits for the
    consuming action."""
    return df.localCheckpoint(eager=False)


METRICS_SCHEMA = (
    "algo string, run_id string, iteration int, partition_id int, "
    "rows long, wall_ms double"
)


class CheckpointStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        algo: str,
        run_id: str,
        fmt: str = "parquet",
    ):
        """``fmt`` is the one-line Iceberg swap the layout was designed
        for: ``fmt='iceberg'`` writes each iteration as an Iceberg
        (Hadoop-tables) table at the same path — requires the
        iceberg-spark runtime on the classpath (tests/test_iceberg.py
        probes for it and skips otherwise). Commit detection adapts:
        parquet uses the _SUCCESS marker, Iceberg its atomic metadata
        directory."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.algo = algo
        self.run_id = run_id
        self.fmt = fmt
        self._marker = "_SUCCESS" if fmt == "parquet" else "metadata"

    # ----------------------------------------------------------- layout
    def _run_dir(self) -> str:
        return f"{self.root}/{self.algo}/{self.run_id}"

    def _iter_dir(self, iteration: int) -> str:
        return f"{self._run_dir()}/iter_{iteration:05d}"

    def _metrics_dir(self) -> str:
        return f"{self.root}/_metrics"

    # ------------------------------------------------------ checkpointer
    def checkpointer(self, df: DataFrame, iteration: int) -> DataFrame:
        t0 = time.monotonic()
        path = self._iter_dir(iteration)
        df.write.mode("overwrite").format(self.fmt).save(path)
        wall_ms = (time.monotonic() - t0) * 1000.0
        out = self.spark.read.format(self.fmt).load(path)
        lineage = (
            out.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"))
            .select(
                F.lit(self.algo).alias("algo"),
                F.lit(self.run_id).alias("run_id"),
                F.lit(iteration).cast("int").alias("iteration"),
                F.col("partition_id").cast("int"),
                F.col("rows").cast("long"),
                F.lit(wall_ms).alias("wall_ms"),
            )
        )
        lineage.write.mode("append").parquet(self._metrics_dir())
        return out

    # ------------------------------------------------------------ resume
    def _hadoop_fs(self):
        """Hadoop FileSystem for the checkpoint root — works for any
        scheme Spark can write (hdfs://, s3a://, local paths), unlike
        os.listdir which would silently disable resume on a cluster."""
        jvm = self.spark._jvm  # noqa: SLF001
        hconf = self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        path = jvm.org.apache.hadoop.fs.Path(self.root)
        return jvm, path.getFileSystem(hconf)

    def latest_iteration(self) -> int | None:
        """Highest committed iteration, or None."""
        return max(self.committed_iterations(), default=None)

    def resume(self, bound: int) -> tuple[int, DataFrame | None]:
        """``(start, state)`` for a relaunch that runs at most ``bound``
        rounds: the highest committed iteration clamped to ``bound`` — a
        store holding more rounds than asked for must not answer with the
        over-iterated state — and that iteration's state; ``(0, None)``
        when nothing is committed."""
        latest = self.latest_iteration()
        if latest is None:
            return 0, None
        start = min(latest, bound)
        return start, self.load(start)

    def load(self, iteration: int) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._iter_dir(iteration))

    def committed_iterations(self) -> list[int]:
        """All committed (has _SUCCESS) iterations, ascending."""
        jvm, fs = self._hadoop_fs()
        run_path = jvm.org.apache.hadoop.fs.Path(self._run_dir())
        if not fs.exists(run_path):
            return []
        out = []
        for status in fs.listStatus(run_path):
            name = status.getPath().getName()
            if name.startswith("iter_") and fs.exists(
                jvm.org.apache.hadoop.fs.Path(status.getPath(), self._marker)
            ):
                out.append(int(name.split("_")[1]))
        return sorted(out)

    def load_upto(self, iteration: int) -> DataFrame:
        """Union of all committed iterations ≤ ``iteration`` — the resume
        path for DELTA-committed kernels (BFS commits each level's newly
        discovered rows, not the whole visited set; see bfs.py).

        parquet: ONE multi-path scan (not an N-way union plan, so a
        diameter-deep run resumes without a giant logical plan), with
        ``mergeSchema`` so a store whose early iterations predate a column
        (e.g. older BFS deltas without out_deg) still reads as one
        consistent schema — missing columns come back null and the caller
        normalizes them. Other formats (iceberg): path-list loads are not
        supported by the source, so each committed iteration is loaded
        separately and unioned by name."""
        its = [k for k in self.committed_iterations() if k <= iteration]
        if not its:
            raise ValueError(f"no committed iterations ≤ {iteration}")
        if self.fmt == "parquet":
            return (
                self.spark.read.option("mergeSchema", "true")
                .format(self.fmt)
                .load([self._iter_dir(k) for k in its])
            )
        out = None
        for k in its:
            df = self.load(k)
            out = (
                df
                if out is None
                else out.unionByName(df, allowMissingColumns=True)
            )
        return out

    def metrics(self) -> DataFrame:
        """This run's lineage rows (filtered: the _metrics dir is shared
        across algos/runs under one root); empty DataFrame before the
        first checkpoint instead of PATH_NOT_FOUND."""
        jvm, fs = self._hadoop_fs()
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(self._metrics_dir())):
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return (
            self.spark.read.parquet(self._metrics_dir())
            .filter(
                (F.col("algo") == self.algo) & (F.col("run_id") == self.run_id)
            )
        )
