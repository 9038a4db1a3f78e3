"""SparkSession factory with the engine's standard configuration.

Tuned for correctness tests on ``local[N]`` but with the settings that
matter at cluster scale spelled out: AQE (runtime re-planning, skew
splitting, partition coalescing), Arrow for every pandas UDF exchange,
and an explicit shuffle-partition default the jobs override per input
size.
"""
from __future__ import annotations

import copy
import os
from functools import cached_property

from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import NumericType, StringType, StructType


# Parquet page codec of every table the engine writes: the Spark
# writer takes it from the session (`get_spark`), the driver-side
# pyarrow stats writer (`build.write_stats_row`) passes it directly.
# Readers need no setting: Parquet records the codec per column chunk.
PARQUET_CODEC = "zstd"

# The development VMs use hypervisor-lazy memory: the FIRST write to
# any new page is a fault the hypervisor serves, and pages freed back
# to the OS are reclaimed by the balloon and re-fault later. Earlier
# rounds recorded ~17 MB/s serial first-touch service; on 2026-10-20
# a 192 MB first touch of an anonymous mapping (one write per 4 KiB
# page, 4-vCPU VM) took 0.15-0.20 s, about 1.0-1.3 GB/s, so the cost
# varies with the host.
# Mitigation: keep allocations resident in the long-lived processes —
# glibc must never trim/munmap (Python driver + reused workers), and
# the JVM GC must never uncommit heap (ParallelGC instead of G1).
_MALLOC_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "134217728",
    "MALLOC_ARENA_MAX": "4",
}


def get_spark(
    app_name: str = "textindex_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)  # inherited by JVM → python workers
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    # what local[*] will actually resolve to — the scan-split floor
    # below must track the REAL slot count, not a constant
    n_slots = cpus or os.cpu_count() or 1
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # runtime re-planning: coalesce small shuffle partitions,
        # split skewed ones (SURVEY.md §4 — replaces the reference's
        # 256 frequency bags as the adaptive half of skew handling)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # all pandas-UDF traffic over Arrow
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or (cpus or 32)))
        # ICU collation class-init stalls every executor thread for
        # 60-100s on first use of lower()/upper() in this environment
        # (verified via jstack: CollationAwareUTF8String <clinit>).
        # JVM case mapping is sufficient: the engine only lowercases
        # ASCII urls JVM-side; term lowercasing happens in the Python
        # kernels with reference semantics.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd pages on top of the varint posting blocks: on the
        # perfbench seed-1 index every table shrinks against Spark's
        # default Snappy (postings -23%, segments -17%, docs -36%,
        # terms -21%; the whole index 711 -> 561 KB) at no measurable
        # build or warm-query cost, and Iceberg has defaulted Parquet
        # to zstd since 1.4. Spark's default zstd level: level 9 and
        # Parquet v2 pages gain under 2.5% more. Append, compaction,
        # purge, merge and streaming writes all inherit it. A caller's
        # own session keeps Spark's default codec and still writes a
        # valid index; old Snappy files and new zstd files read side
        # by side in one table, so existing indexes need no migration.
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        # File-scan split packing targets exactly defaultParallelism
        # splits (bytesPerCore heuristic), i.e. ONE task wave — so the
        # single slowest extract/tokenize task gates the whole scan
        # stage and the idle-core tail grows with parallelism (profiled:
        # utilization 0.65 at local[32], the 8→32 scaling residual).
        # A floor of 2 waves lets finished cores steal the tail, but
        # only on inputs above about minPartitionNum × openCostInBytes
        # (32 MB at local[4]): the split size is max(openCostInBytes =
        # 4 MB, total bytes / minPartitionNum), where every file counts
        # openCostInBytes on top of its length. Below that a file is cut
        # into 4 MB splits, so a file under 4 MB is ONE split: at
        # local[4] perfbench's 872 KB input of 8 row groups is scanned
        # and tokenized by a single task. At warehouse scale splits
        # already ≫ cores, so this is a no-op there.
        # The one-task scan of a small input is kept on purpose:
        # openCostInBytes = 16 KB made it 8 tasks, but warm builds took
        # 2.3-3.0 s against 2.1-2.4 s, and 8 segments/docs files grew
        # the index 13.5% (ROADMAP.md, direction 4).
        .config("spark.sql.files.minPartitionNum", str(2 * n_slots))
    )
    # Heap: 8 GB is GC-bound at 32 shuffle+parquet-writing threads
    # (profiling showed jvmGcTime growing 30× from 8→32 tasks); give
    # the single local JVM ~0.5 GB/core, pre-committed (-Xms) so heap
    # growth never hits the hypervisor's lazy-page service mid-build.
    # ParallelGC: never uncommits heap pages (see _MALLOC_ENV note).
    heap_gb = os.environ.get(
        "TEXTINDEX_DRIVER_MEM", f"{max(8, (cpus or 8) // 2)}g"
    )
    builder = builder.config("spark.driver.memory", heap_gb).config(
        "spark.driver.extraJavaOptions", f"-XX:+UseParallelGC -Xms{heap_gb}"
    )
    # Shuffle files: profiling at local[32] showed cumulative
    # shuffleWriteTime inflating ~200× vs local[8] for the same bytes
    # — small buffered writes hitting the VM's first-touch page
    # service (see the note at the top). tmpfs spill dirs + 1 MB
    # write buffers take the write path off that cliff. On a real
    # cluster the cluster manager overrides spark.local.dir
    # (SPARK_LOCAL_DIRS), so this is purely a local-mode mitigation.
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    # Sort-based shuffle writer always: the bypass-merge writer opens
    # one buffered stream PER REDUCER per map task (64 reducers × the
    # write buffer each = tens of MB of first-touch pages per task on
    # the VM's lazy page service — measured 13.6 s cumulative
    # shuffleWriteTime for 137 MB at local[32]). The sort writer keeps
    # one spill buffer + one output file per task; with 128k buffers
    # the same build drops ~10% wall.
    builder = builder.config("spark.shuffle.sort.bypassMergeThreshold", "0").config(
        "spark.shuffle.file.buffer", "128k"
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Under spark-submit (or any pre-existing session) the driver JVM
    # is already running, so spark.driver.memory / extraJavaOptions
    # set through the builder are silently IGNORED — the 1g default
    # heap then runs large builds GC-bound, the exact pathology the
    # settings above exist to prevent (review r4). Detect and warn
    # with the actionable flag; jobs/*.py docs recommend
    # --driver-memory on their spark-submit lines.
    try:
        # the session conf ECHOES the builder value even when the JVM
        # ignored it — ask the JVM for its actual max heap instead
        jvm_max_mb = int(
            spark.sparkContext._jvm.Runtime.getRuntime().maxMemory()
            // (1024 * 1024)
        )
        want_mb = _parse_mem_mb(heap_gb)
        # maxMemory() reports slightly under -Xmx (survivor space);
        # 0.7 slack avoids false alarms while still catching the
        # 1g-default case against an 8g+ ask
        if want_mb and jvm_max_mb < int(want_mb * 0.7):
            import warnings

            warnings.warn(
                f"driver JVM heap is ~{jvm_max_mb} MB but the build "
                f"profile wants {heap_gb} (the JVM was already running "
                "when get_spark configured it — pass "
                f"`--driver-memory {heap_gb}` to spark-submit, or set "
                "TEXTINDEX_DRIVER_MEM to match the actual heap)"
            )
    except Exception:
        pass
    return spark


def _parse_mem_mb(v: str) -> int:
    v = v.strip().lower()
    mult = 1
    if v.endswith("g"):
        mult, v = 1024, v[:-1]
    elif v.endswith("m"):
        v = v[:-1]
    elif v.endswith("k"):
        mult, v = 0, v[:-1]  # sub-MB: treat as 0 MB
    try:
        return int(float(v)) * mult
    except ValueError:
        return 0


# DDL string → StructType, parsed once: `StructType.fromDDL` asks the
# JVM parser (one py4j round trip) on every call. The cached objects
# are shared, so they are read-only — StructType is mutable (`.add`),
# and nothing that could mutate one may receive it.
_schemas: dict[str, StructType] = {}


def _schema(ddl: str) -> StructType:
    st = _schemas.get(ddl)
    if st is None:
        st = _schemas[ddl] = StructType.fromDDL(ddl)
    return st


def local_df(spark: SparkSession, rows, schema: str):
    """Driver-local rows → DataFrame via ONE Arrow batch.

    ``createDataFrame(list)`` parallelizes into defaultParallelism
    pickle slices and every downstream job replays them through Python
    workers — measured ~0.7 s per job at local[32], and ~6 s when a
    ``coalesce(1)`` funnels all 32 slices through ONE task's worker
    serially (the round-1 ``stats_write`` pathology: 5.3 s to write one
    row). The pandas→Arrow path ships the rows as a single JVM-side
    Arrow batch: no Python tasks at all, ~0.3 s for the same write, and
    the result is one partition so no coalesce is needed.

    ``rows`` may be tuples or dicts; ``schema`` is a DDL string (column
    order in dict rows is normalized to the schema's order)."""
    import pandas as pd

    st = _schema(schema)
    names = [f.name for f in st.fields]
    rows = list(rows or [])
    if not rows:
        # zero-row fast path: an empty Arrow batch still launches a
        # real Spark job on every collect (~200 ms warm); a WHERE
        # 1=0 LocalRelation (empty-relation propagation) collects
        # driver-side — ~23 ms to plan, ~3 ms reused from the
        # per-session cache. This is the hot empty-result
        # short-circuit for queries on absent vocabulary. The frame
        # is immutable, so caching per (session, schema) is safe and
        # the cache dies with the session object.
        cache = getattr(spark, "_ti_empty_frames", None)
        if cache is None:
            cache = {}
            spark._ti_empty_frames = cache
        df = cache.get(schema)
        if df is None:
            cols = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in st.fields
            )
            df = spark.sql(f"SELECT {cols} WHERE 1=0")
            cache[schema] = df
        return df
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema=st)


class ResidentFrame(DataFrame):
    """A small evaluated result held in driver memory: `local_df`'s
    frame without the JVM until something needs it.

    ``collect``, ``toPandas``, ``count``, ``isEmpty``, ``take`` (so
    ``head``/``first``), ``schema`` (a copy), ``columns`` and
    ``dtypes`` answer from the rows — no py4j round trip, where
    building the `local_df` frame and collecting it cost ~35 py4j
    calls and 40–60 ms. Any other DataFrame method (joins, ``show``,
    ``.rdd``, ``explain``, ...) materializes the `local_df` frame of
    the same rows once (`_jdf`) and runs on it unchanged.

    ``rows`` are tuples of Python values in ``schema`` (a DDL string)
    order; the columns are flat numeric/string types."""

    def __new__(cls, *args, **kwargs):
        # classic DataFrame.__new__ calls __init__(jdf, session) itself
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, rows, schema: str):
        st = _schema(schema)
        assert all(isinstance(f.dataType, (NumericType, StringType)) for f in st.fields)
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._ddl = schema
        self._st = st
        make = Row(*st.names)
        self._rows = [make(*r) for r in rows]

    @cached_property
    def _jdf(self):
        return local_df(self._session, self._rows, self._ddl)._jdf

    @property
    def schema(self) -> StructType:
        return copy.deepcopy(self._st)

    def collect(self) -> list[Row]:
        return list(self._rows)

    def take(self, num: int) -> list[Row]:
        return self._rows[:num]

    def count(self) -> int:
        return len(self._rows)

    def isEmpty(self) -> bool:
        return not self._rows

    def toPandas(self):
        """The frame Spark's Arrow ``toPandas`` gives: the same
        per-field dtype correction (`_create_converter_to_pandas`),
        so an empty result is int64/float64/object too."""
        import pandas as pd
        from pyspark.sql.pandas.types import _create_converter_to_pandas

        names = self._st.names
        pdf = (
            pd.DataFrame(self._rows, columns=names)
            if self._rows
            else pd.DataFrame(columns=names)
        )
        return pd.concat(
            [
                _create_converter_to_pandas(f.dataType, f.nullable)(pdf[f.name])
                for f in self._st.fields
            ],
            axis="columns",
        )


def warm_workers(spark: SparkSession, mb_per_task: int = 192) -> None:
    """Pre-fault working memory inside every reused Python worker (and
    grow the JVM side with one shuffle), so hypervisor page-fetch cost
    is paid before timed work. One-time per session."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy as np
        import pandas as pd

        # installs the package's zip re-read guard in this worker, so
        # the first timed task does not re-read pyspark.zip
        import textindex_spark  # noqa: F401

        for pdf in batches:
            a = np.empty(mb_per_task * 1_000_000, dtype=np.uint8)
            a[::512] = 1
            del a
            yield pd.DataFrame({"id": pdf["id"][:1]})

    (
        spark.range(n).repartition(n)
        .mapInPandas(touch, "id long")
        .count()
    )
    # JVM heap + shuffle paths
    spark.range(4_000_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    ).groupBy(F.substring("h", 1, 2)).count().count()
