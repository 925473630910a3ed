"""SparkSession bootstrap.

The reference (HPAT.jl) statically compiled every program to MPI C++ with
a fixed rank count (src/HPAT.jl:232-244 pass pipeline). Here a single
session factory pins the configs that matter at the 100 TB design point:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any Python exchange, and shuffle-partition counts sized by the
caller rather than Spark's legacy default of 200.

HPAT's binaries start at once; a Spark session starts a JVM that loads
~17k classes, ~10k of them from ``$SPARK_HOME/jars``. On a local master
the driver JVM therefore runs against a per-machine application
class-data-sharing (AppCDS) archive under
``${XDG_CACHE_HOME:-~/.cache}/hpat_jl_spark/jvm``, keyed by the JDK and
the jar listing: the first session on a machine writes it as its JVM
exits, later sessions map it and skip loading, parsing and verifying
those classes (relational perfbench ``setup_s`` 10.3 -> 5.8 s, median
of 10 pairs on a 4-core Xeon VM). ``_class_archive_launch`` says when
it steps aside and leaves Spark's launch as it was.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shlex
import shutil

from pyspark import SparkContext
from pyspark.sql import SparkSession

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
# the directory that holds the hpat_jl_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the first bytes of a complete dynamic CDS archive: CDS_DYNAMIC_ARCHIVE_MAGIC
# (0xf00baba8) little-endian. The JVM writes the header after the regions,
# so a dump cut short leaves zeros here.
_DYNAMIC_ARCHIVE_MAGIC = b"\xa8\xab\x0b\xf0"
# environment the Spark launcher appends to the driver classpath
_CLASSPATH_VARS = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
)
# where JVM options reach the driver besides spark.driver.extraJavaOptions
_JAVA_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")


def local_cpus() -> int:
    """Worker threads for a local master and the default shuffle width:
    ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the machine's RAM capped at
    8g and never below 1g, so a small box does not promise the JVM more
    heap than it has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(8192, ram_mb // 2))}m"


def sized_shuffle_partitions(
    sf_dir: str,
    target_bytes: int = 2 << 20,
    floor: int = 8,
    per_core_cap: int = 4,
) -> int:
    """Shuffle-partition ceiling sized by the corpus, not a constant.

    This is the documented design rule applied (this module's docstring:
    "at 100 TB you set it high and let coalescing shrink") — the inverse
    holds too: a 15 MB corpus does not want 32-task reduce stages. Every
    shuffle stage then pays ~2-5 ms/task of pure scheduling, which is
    exactly the fixed overhead VERDICT r06 #1 measured dominating the
    sub-second queries (q5 steady state: 0.32 s of task time inside
    0.99 s of wall). Sizing: one partition per ~2 MB of input parquet,
    floored at 8 (keeps multi-core reduce for compute-dense/byte-light
    stages — the r5 parallelismFirst trap showed byte size alone is a
    bad proxy for CPU cost), capped at 4× the worker threads (more
    ceiling than that only helps when AQE needs headroom to split skew,
    and the skew-join splitter works under the cap too). At 100 TB the
    same formula saturates the cap — i.e. the classic 2-4×-total-cores
    setting — so nothing here is bench-special. Measured at sf0.1:
    headline total 39.1 s → 33.2 s with plans unchanged (AQE stays on;
    only the reduce fan-out shrinks).
    """
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    except OSError:
        pass
    return max(floor, min(total // target_bytes, per_core_cap * local_cpus()))


# Per-path (files, sizes, total_row_groups) listing memo. Fixtures are
# immutable per directory (the load_table cache's assumption); conf-
# dependent packing is recomputed per call so a probe that re-tunes
# maxPartitionBytes (scaling_probe stages do) still gets fresh counts.
_SCAN_LISTING_CACHE: dict[str, tuple[list[int], int]] = {}


def _parse_jvm_bytes(v: str | int) -> int:
    """Parse a JVM byte-size conf string ('128MB', '4194304b', '1g')."""
    if isinstance(v, int):
        return v
    s = v.strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            mult = m
            s = s[: -len(suffix)]
            break
    return int(float(s) * mult)


def scan_split_count(spark: SparkSession, path: str) -> int:
    """Effective scan parallelism for a parquet file-or-directory,
    computed from the file listing, the session's split confs, and the
    parquet footers — with NO ``.rdd`` call (ADVICE r12:
    ``df.rdd.getNumPartitions()`` at plan-construction time forces
    physical planning; if an exchange is ever composed upstream, AQE's
    final-plan materialization would run jobs during build and break
    the prepared-query zero-jobs bench contract).

    Two components, take the min:

    - Spark's own split packing — ``FilePartition.maxSplitBytes``
      (``min(maxPartitionBytes, max(openCostInBytes, totalBytes/
      minPartitionNum))``) then the greedy size-descending bin-pack of
      ``getFilePartitions`` — the count ``.rdd.getNumPartitions()``
      reports on a bare scan (validated against it in
      tests/test_session.py across the fixtures and conf settings);
    - the total parquet ROW-GROUP count (ADVICE r12 / the r7 trap:
      byte-range splits only yield rows where a row group STARTS, so a
      large single-row-group file reports many partitions while only
      one task ever yields rows — the reported count OVERSTATES
      effective parallelism exactly where the starved-scan pin most
      needs to fire).

    ``min(packed, row_groups)`` is the number of scan tasks that can
    actually produce rows."""
    real = os.path.realpath(path)
    cached = _SCAN_LISTING_CACHE.get(real)
    if cached is None:
        files: list[str] = []
        if os.path.isdir(real):
            for root, _dirs, fs in os.walk(real):
                files.extend(
                    os.path.join(root, f) for f in fs if f.endswith(".parquet")
                )
        else:
            files = [real]
        sizes = [os.path.getsize(f) for f in files]
        import pyarrow.parquet as pq

        row_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        cached = (sizes, row_groups)
        _SCAN_LISTING_CACHE[real] = cached
    sizes, row_groups = cached
    if not sizes:
        return 1
    max_part = _parse_jvm_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    open_cost = _parse_jvm_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    )
    min_parts = spark.conf.get("spark.sql.files.minPartitionNum", None)
    if min_parts is None:
        min_parts = spark.conf.get(
            "spark.sql.leafNodeDefaultParallelism", None
        )
    min_parts = (
        int(min_parts)
        if min_parts is not None
        else spark.sparkContext.defaultParallelism
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(min_parts, 1)))
    # byte-range splits of each file, then greedy size-desc bin-pack
    splits: list[int] = []
    for s in sizes:
        off = 0
        while off < s:
            splits.append(min(max_split, s - off))
            off += max_split
    splits.sort(reverse=True)
    n_partitions, current = 0, 0
    for s in splits:
        if current + s > max_split:
            n_partitions += 1
            current = 0
        current += s + open_cost
    if current > 0:
        n_partitions += 1
    return max(1, min(n_partitions, row_groups))


def starved_scan_pin_width(
    scan_parts: int, default_parallelism: int, sized_parts: int
) -> int | None:
    """Width for a split-starvation repartition of a raw-text stream,
    or None when the scan already feeds enough tasks. Pin only when
    the scan yields under a quarter of the cores: a LIGHT-compute
    stage downstream of a split-RICH scan loses more to the raw-text
    exchange than it gains in parallelism (late-r12, interleaved
    min-of-3 at the ×10 staged tier: duplicate_span_report 2.27 s
    pinned vs 0.75 s unpinned; benchmark_decontaminate 3.02 vs
    2.48 s), while the single-row-group bench fixtures report 1 split
    and starve every core. Heavy encodes (~100 CPU-bytes/byte — the
    BPE projections) keep unconditional pins: the exchange is measured
    noise there at every tier. At real scale the scan is split-rich
    and this never fires — it is a small-fixture patch. Callers pass
    ``scan_parts`` from scan_split_count above (r13): its row-group
    cap means a large single-row-group file — which reports many
    byte-range partitions while only one task yields rows, the r7
    trap — is correctly counted as 1 and gets its pin."""
    if scan_parts * 4 >= default_parallelism:
        return None
    return max(default_parallelism, sized_parts)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``); the difference across a pass counts the
    generated classes it missed in the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _class_archive_key(spark_home: str) -> str:
    """Hash of the JVM the launcher runs (``java`` and ``libjvm.so``:
    path, size, mtime) and of ``$SPARK_HOME/jars`` (name, size, mtime),
    so a JDK or Spark upgrade gets a fresh archive instead of a stale one
    the JVM would silently refuse. Raises OSError when one is missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = os.path.join(spark_home, "jars")
    entries = [(p, os.stat(p)) for p in (java, libjvm)]
    entries += [(n, os.stat(os.path.join(jars, n))) for n in sorted(os.listdir(jars))]
    digest = hashlib.sha256()
    for name, st in entries:
        digest.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:24]


def _class_archive_launch(conf: dict[str, str]) -> tuple[str, str] | None:
    """``(spark.driver.extraJavaOptions, SPARK_CONF_DIR)`` that start a
    local driver JVM against this machine's AppCDS archive, or None to
    launch exactly as Spark would.

    The archive is ``${XDG_CACHE_HOME:-~/.cache}/hpat_jl_spark/jvm/
    <key>.jsa``. A complete one is mapped (``-XX:SharedArchiveFile``);
    otherwise ``-XX:ArchiveClassesAtExit`` has this session's JVM write
    it on exit (once per machine: a slower start, and ~10-15 s more exit
    while it writes ~140-170 MB). Either flag is appended to the
    caller's options, never replaces them.

    JDK 17 refuses CDS when a classpath directory is not empty: fatal
    at dump time ("Cannot have non-empty directory in paths"), a silent
    no-op at map time. Spark's launcher puts the conf dir first on the
    driver classpath, and a stock one holds only ``*.template`` files,
    which Spark never reads; the launch gets an empty directory beside
    the archive instead. None when the conf dir holds any other file,
    when the environment or conf adds classpath entries, when the
    caller already passes CDS options, or when the cache cannot be
    made."""
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    callers = " ".join([java_opts] + [os.environ.get(v, "") for v in _JAVA_OPTION_VARS])
    if (
        any(os.environ.get(v) for v in _CLASSPATH_VARS)
        or conf.get("spark.driver.extraClassPath")
        # spark-submit flags can carry a classpath or a properties file
        or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
        or any(o in callers for o in _CDS_OPTIONS)
    ):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    spark_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "hpat_jl_spark",
        "jvm",
    )
    empty_conf = os.path.join(cache, "conf")
    try:
        try:
            conf_files = os.listdir(spark_conf)
        except FileNotFoundError:  # the launcher reads nothing there either
            conf_files = []
        if any(not f.endswith(".template") for f in conf_files):
            return None
        archive = os.path.join(cache, _class_archive_key(spark_home) + ".jsa")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        try:
            with open(archive, "rb") as fh:
                complete = fh.read(4) == _DYNAMIC_ARCHIVE_MAGIC
        except FileNotFoundError:
            complete = False
    except OSError:
        return None
    flag = "SharedArchiveFile" if complete else "ArchiveClassesAtExit"
    # -Xlog: the dump would print a "Skipping ... Signed JAR" line per
    # janino class
    ours = [shlex.quote(f"-XX:{flag}={archive}"), "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return " ".join(o for o in [java_opts, *ours] if o), empty_conf


@contextlib.contextmanager
def _environ(name: str, value: str | None):
    """``os.environ[name] = value`` inside the block; a None value
    leaves the environment alone."""
    saved = os.environ.get(name)
    if value is not None:
        os.environ[name] = value
    try:
        yield
    finally:
        if value is not None:
            if saved is None:
                del os.environ[name]
            else:
                os.environ[name] = saved


def get_spark(
    app_name: str = "hpat_jl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for analytic workloads.

    On a real cluster the same configs apply; only ``master`` and memory
    sizing change. AQE makes the shuffle-partition setting a ceiling, not
    a fixed fan-out: at 100 TB you set it high (e.g. 2000+) and let
    coalescing shrink small stages.
    """
    cpus = local_cpus()
    # Silence pyspark's own worker-side pandas FutureWarning (VERDICT
    # r05 #7): serializers.py concats Arrow batches per partition and
    # trips pandas' empty-or-all-NA concat deprecation once per task —
    # hundreds of identical lines burying every sweep's ok/FAIL output.
    # It fires in the PYTHON WORKER processes, so a driver-side
    # warnings.filterwarnings can't reach it; workers inherit the
    # driver env in local mode (and executorEnv on a cluster), so the
    # filter rides in via PYTHONWARNINGS, scoped to that one module.
    _pyspark_noise = "ignore::FutureWarning:pyspark.sql.pandas.serializers"
    warn_opts = [w for w in os.environ.get("PYTHONWARNINGS", "").split(",") if w]
    if _pyspark_noise not in warn_opts:
        os.environ["PYTHONWARNINGS"] = ",".join(warn_opts + [_pyspark_noise])
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # AQE: runtime re-plan (coalesce small shuffle partitions, convert
        # to broadcast join when a side turns out small, split skew).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOT set: spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
        # (evaluated r9, rejected). It would let AQE convert SMJ →
        # shuffled-hash join from measured partition bytes, but Spark
        # only applies the rule when the threshold ≥
        # advisoryPartitionSizeInBytes (64 MB default) — and a 64 MB
        # build × 32 concurrent tasks is exactly the ~2 GB unspillable
        # residency that OOM'd q01_copurchase's static SHUFFLE_HASH
        # hint at the ×100 tier (memory probe, 4g budget). Hash builds
        # of corpus/parallelism bytes are anti-scale at fixed executor
        # memory; sort-merge spills, so SMJ stays the default.
        # parallelismFirst stays at Spark's default (true). Size-first
        # coalescing (false) was measured in r5: it shaves ~5-10% off
        # scan-bound TPC-H queries at sf0.1 by collapsing KB-sized
        # shuffle partitions, but it STRANGLES compute-dense/byte-light
        # stages — triangle_count's per-order pair explode coalesced to
        # ~1 partition and went from 2s to 48s at sf0.01. Byte size is
        # a bad proxy for CPU cost, which is exactly why Spark defaults
        # to defending parallelism.
        # No rack/node locality to wait for on local[...] or
        # cloud-storage clusters; the 3s default delay-schedules real
        # work (r5 measurement: ~5-10% on short queries).
        .config("spark.locality.wait", "0")
        # Allow subset-key co-partitioning for joins (r11, q21): a join
        # on (orderkey, suppkey) whose BOTH children already carry
        # HashPartitioning(orderkey) is co-located — rows with equal
        # orderkey meet regardless of suppkey — but Spark 4's default
        # (true) refuses the subset and re-shuffles both sides on the
        # full key set, defeating any pinned-exchange design that
        # shares one partitioning across an aggregate, a window, and a
        # join (the q01/hll exchange-reuse treatment). false restores
        # the subset rule. Correctness-neutral (the driver's vanilla
        # session still computes identical results through extra
        # exchanges); the skew risk the default guards against is
        # covered by AQE skew-join splitting above.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Arrow for every Python<->JVM exchange (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Timestamps in fixtures are ns-precision; keep them lossless.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # Room for every class the registry generates. Spark keeps the
        # Janino-compiled classes in one JVM-wide LRU cache of 100
        # entries by default, so a session that cycles over more than
        # that compiles them again on every pass. Distinct classes in
        # one session at sf0.01: all 187 queries ~2,110; bench.py's 42
        # headline queries ~730; perfbench relational ~117 (66-89
        # recompiled per warm pass at the default, 0.4-0.8 s of Janino
        # time on a 4-core Xeon VM); llm_ingest 72-76. The full sweep
        # keeps ~17 MB more metaspace and ~70 MB more live heap at this
        # cap (CLAUDE.md, codegen-cache traps). A static SQL conf:
        # cluster executors, which compile their own copies, get it too.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    conf = dict(extra_conf or {})
    conf_dir = None
    if _LOCAL_MASTER.fullmatch(master or f"local[{cpus}]"):
        # Start Python workers from the installed pyspark instead of
        # $SPARK_HOME's source-only pyspark.zip (worker_daemon.py says
        # why; on a 4-core Xeon VM it halves the warm Arrow-kernel job
        # floor, mapInPandas 0.32-0.54 s -> 0.17-0.24 s, and cuts the
        # first UDF of a session 3.9-4.1 s -> 2.9-3.0 s). The package
        # root joins the workers' PYTHONPATH so the daemon and every
        # kernel import from any working directory. Local masters only:
        # there the driver and its workers share one interpreter and one
        # filesystem, so the driver's package and pyspark are the
        # workers'. A cluster's executors may have neither installed, so
        # it keeps Spark's default daemon and ships code through
        # --py-files.
        conf.setdefault("spark.python.daemon.module", "hpat_jl_spark.worker_daemon")
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), _PACKAGE_ROOT) if p)
        # Map this machine's class-data-sharing archive into the driver
        # JVM (module docstring): the ~10k classes a session reads from
        # Spark's jars no longer load, parse and verify on each start.
        # Local masters only: a cluster's client usually carries a real
        # conf dir and Hadoop classpath, which CDS refuses. Only when no
        # JVM runs yet: options reach a JVM only at its launch.
        if SparkContext._gateway is None:
            launch = _class_archive_launch(conf)
            if launch:
                conf["spark.driver.extraJavaOptions"], conf_dir = launch
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _environ("SPARK_CONF_DIR", conf_dir):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
