"""Checkpointed, resumable iteration — the engine's run lifecycle.

The reference's driver loop (random.c:128-143) runs construct → iterate →
destruct in one process; a crash loses everything. Our north rule requires
every iteration's vertex state to be durably checkpointed with
per-partition lineage + metrics so a relaunched job resumes mid-algorithm.

``CheckpointStore`` provides the ``checkpointer(df, iteration)`` hook the
kernels already accept. Each call:

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

``Checkpoints`` is the one policy the kernels share for cutting iteration
state and finding the iteration to resume from.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
        """Highest committed (has _SUCCESS) iteration, or None."""
        its = self.committed_iterations()
        return its[-1] if its else None

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
        (e.g. pre-round-3 BFS deltas without out_deg) still reads as one
        consistent schema — missing columns come back null and the caller
        normalizes them. Other formats (iceberg): path-list loads are not
        supported by the source, so each committed iteration is loaded
        separately and unioned by name (ADVICE r03)."""
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


class Checkpoints:
    """The one rule every kernel uses to cut an iteration's state.

    - ``store`` wins over ``checkpointer``: with a store every cut is a
      durable commit and the run can resume.
    - Else the caller's ``checkpointer`` makes every cut.
    - Else (the default path) a cut is a local checkpoint. The call site
      picks ``eager``: a lazy cut costs no job of its own when the
      round's next action (a count or stats aggregate) materializes it.
    """

    def __init__(self, checkpointer=None, store: CheckpointStore | None = None):
        self.checkpointer = checkpointer
        self.store = store

    def cut(self, df: DataFrame, iteration: int, eager: bool = True) -> DataFrame:
        if self.store is not None:
            return self.store.checkpointer(df, iteration)
        if self.checkpointer is not None:
            return self.checkpointer(df, iteration)
        return df.localCheckpoint(eager=eager)

    def truncate(self, df: DataFrame, iteration: int) -> DataFrame:
        """Cut a plan that is not a resume point: never a durable commit,
        so a store run keeps it in memory."""
        if self.store is None and self.checkpointer is not None:
            return self.checkpointer(df, iteration)
        return df.localCheckpoint(eager=True)

    def resume(self, budget: int | None = None) -> int | None:
        """Last committed iteration, clamped to ``budget`` (a store holding
        more rounds must not answer for fewer); None without a store or
        before the first commit."""
        if self.store is None:
            return None
        k = self.store.latest_iteration()
        if k is None or budget is None:
            return k
        return min(k, budget)
