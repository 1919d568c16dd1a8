"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_us(c: Column | str) -> Column:
    """Microseconds since 1970-01-01 00:00:00 of a TIMESTAMP_NTZ column,
    independent of ``spark.sql.session.timeZone``.

    ``unix_micros`` rejects TIMESTAMP_NTZ outright (AnalysisException) —
    the fixtures store naive ``timestamp[us]`` parquet, which Spark 4
    loads as NTZ. ``timestamp_diff`` over two NTZ values is pure wall-time
    arithmetic, so this is exact to the microsecond and never shifts with
    the session zone (verified in a America/New_York session).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col
    )


def day_bucket(c: Column | str) -> Column:
    """Truncate a TIMESTAMP_NTZ to its day (midnight, still NTZ), without
    any session-timezone dependence.

    ``F.date_trunc`` implicitly coerces NTZ through the session zone
    (nonexistent wall times around DST spring-forward can shift), and the
    old ``convert_timezone('UTC', ts)`` guard now actively SHIFTS NTZ wall
    time in non-UTC sessions. NTZ→DATE→NTZ is wall-time-only in both hops.
    Oracle mirror: ``DATE_TRUNC('day', CAST(ts AS TIMESTAMP))`` (DuckDB
    timestamps are naive, so it's the same wall-time truncation).
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("date").cast("timestamp_ntz")


def spark_hidden(name: str) -> bool:
    """True iff Spark's file listing skips a path component called
    ``name`` — ``HadoopFSUtils.shouldFilterOutPathName``, rule for rule:
    ``.x`` and ``*._COPYING_`` are hidden; ``_x`` is hidden unless it is
    a ``name=value`` partition dir or starts with ``_metadata`` /
    ``_common_metadata`` (parquet summary files)."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return hidden and not name.startswith(("_common_metadata", "_metadata"))


def sidecar_read(spark, path: str, fmt: str) -> DataFrame | None:
    """Read a CORRECTNESS sidecar (tombstones, batch markers),
    distinguishing ABSENT from UNREADABLE (review r12): the previous
    ``try/except → None`` pattern swallowed transient read failures
    (permission blip, corrupt footer, remote-FS hiccup) as "nothing
    pending", which on a tombstone sidecar silently serves
    GDPR-retracted rows and on a marker dir strips every row's seq so
    retraction anti-joins nothing. Absence is an explicit Hadoop-FS
    existence check; any error reading an EXISTING sidecar propagates.
    A directory holding only write-temporary litter (``_temporary``
    from a killed first append that never committed a file) reads as
    absent — no committed data, nothing pending. Returns None when
    absent, else the loaded DataFrame."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    names = [st.getPath().getName() for st in fs.listStatus(hpath)]
    if all(spark_hidden(n) for n in names):
        return None
    return spark.read.format(fmt).load(path)


def sidecar_json_rows(spark, path: str) -> list | None:
    """Driver-side read of a METADATA-SIZED JSON-lines sidecar dir
    (batch markers, index meta) through the Hadoop FS API
    — r15 optimization (guide §1/§5: these dirs hold one tiny row per
    batch/delete, but ``spark.read.json(...)+collect()`` pays TWO Spark
    jobs per read — schema inference + the collect — a fixed
    scheduling tax on every search/append/delete call; the meta +
    marker pair on one ``ann_index_search`` A/B-measured 0.15 s via
    spark.read.json vs 0.06 s via this driver read, interleaved
    same-session medians of 4). Reading the bytes in the driver is one
    py4j listing + one open per file, no job, identical content.

    Same ABSENT-vs-UNREADABLE contract as ``sidecar_read`` (review
    r12): absent dir (or only write-temporary litter) → None; any error
    reading an EXISTING file propagates. Rows come back as
    ``pyspark.sql.Row`` objects (attribute access + ``__fields__``,
    matching what ``spark.read.json(...).collect()`` returned), one per
    JSON line, carrying exactly the fields that line holds. Each index
    tier has one sidecar layout, stamped with ``layout_version`` in its
    meta row; the tier's meta reader checks the stamp
    (``index_store._check_layout``), so marker readers can rely on the
    current fields being present. Only for BOUNDED sidecars —
    data-sized frames keep the distributed read."""
    import json as _json

    from pyspark.sql import Row

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    files = [
        st.getPath()
        for st in fs.listStatus(hpath)
        if not st.isDirectory() and not spark_hidden(st.getPath().getName())
    ]
    if not files:
        return None
    ioutils = sc._jvm.org.apache.commons.io.IOUtils
    rows: list = []
    for jp in files:
        stream = fs.open(jp)
        try:
            text = ioutils.toString(stream, "UTF-8")
        finally:
            stream.close()
        for line in text.splitlines():
            if not line.strip():
                continue
            rows.append(Row(**_json.loads(line)))
    return rows


def sidecar_json_append(spark, path: str, row: dict) -> None:
    """Append ONE metadata row to a JSON-lines sidecar dir through the
    Hadoop FS API — the write-side twin of ``sidecar_json_rows`` (r15):
    ``tiny_rows_df(...).coalesce(1).write.mode("append").json(dir)``
    schedules a full Spark job (task launch, commit protocol, _SUCCESS
    marker) to emit one ~60-byte line; measured 0.15-0.3 s per call
    locally, paid on EVERY index append (batch marker). The driver
    write is two py4j calls.

    Commit discipline: the line is written to a DOT-prefixed temp file
    (invisible to every reader — Spark and ``sidecar_json_rows`` both
    skip ``.``/``_`` names) and renamed into place after close, so a
    kill mid-write leaves only dot-litter, never a torn visible row —
    the same visible-only-when-complete property the Spark committer
    gave. The rename is a SINGLE-FILE rename, not a directory swap: one
    tiny-file rename is the standard Hadoop commit step and what the
    Spark committer itself did here. File name carries a uuid so
    concurrent writers never collide.

    A ``_SUCCESS`` marker is ensured BEFORE the row commits: the swap
    recovery machinery (``plans/merge._is_complete``) classifies a dir
    copy as complete by that marker, so an append-built sidecar dir
    must look exactly like a Spark-committed one (the r15 crash-window
    test caught a marker dir built purely by driver appends being
    refused by ``_recover``). Ordering makes the invariant "visible
    row ⇒ _SUCCESS present" hold under any kill point."""
    import json as _json
    import uuid as _uuid

    sc = spark.sparkContext
    jpath_cls = sc._jvm.org.apache.hadoop.fs.Path
    dirp = jpath_cls(path)
    fs = dirp.getFileSystem(sc._jsc.hadoopConfiguration())
    fname = f"marker-{_uuid.uuid4().hex}.json"
    tmp = jpath_cls(f"{path}/.{fname}.tmp")
    final = jpath_cls(f"{path}/{fname}")
    success = jpath_cls(f"{path}/_SUCCESS")
    out = fs.create(tmp, True)  # creates parent dirs like the committer
    try:
        data = (_json.dumps(row) + "\n").encode("utf-8")
        out.write(bytearray(data))
    finally:
        out.close()
    # ADVICE r15: a kill between create and rename strands the dot-tmp
    # (plus its local .crc twin) FOREVER — marker dirs live for the
    # index lifetime and nothing else sweeps dot litter. Drop stale tmp
    # files opportunistically on the next append to the same dir. The
    # age gate keeps a CONCURRENT writer's in-flight tmp safe (uuid
    # names never collide, but its rename would fail if we deleted the
    # file under it); one hour is ~6 orders of magnitude past a tiny
    # file's create→rename window. "Now" is this append's own tmp mtime,
    # so the age is measured on the FS clock that stamped the stale
    # files, not the driver's (a remote store's clock can be skewed).
    # fs.delete on a ChecksumFileSystem removes the .crc twin with the
    # file.
    cutoff = fs.getFileStatus(tmp).getModificationTime() - 3600 * 1000  # ms
    for st in fs.listStatus(dirp):
        n = st.getPath().getName()
        if (
            n.startswith(".")
            and n.endswith(".tmp")
            and st.getModificationTime() < cutoff
        ):
            fs.delete(st.getPath(), False)
    if not fs.exists(success):
        fs.create(success, True).close()
    if not fs.rename(tmp, final):
        raise IOError(f"sidecar_json_append: rename failed for {final}")


#: (applicationId, content tag) -> built Column; bounded by eviction in
#: ``_col_cached``.
_EXPR_CACHE: dict = {}
_EXPR_CACHE_MAX = 64


def _col_cached(tag: str, build) -> Column:
    """Session-scoped memo of BUILT COLUMNS keyed on (applicationId,
    content tag) — parameter-only composed expressions: single-Literal
    models, full ADC LUTs, the MinHash/LSH chain. ``tag`` must name
    everything the built Column depends on (column names, parameters,
    model content). Keyed on applicationId so a restarted session never
    sees a stale JVM handle. A Column is an immutable expression
    description; reusing one across plans is exactly what shared
    ``F.col`` expressions do. Nothing data-derived is memoized beyond
    what the caller already passed in as a literal."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return build()
    key = (spark.sparkContext.applicationId, tag)
    col = _EXPR_CACHE.get(key)
    if col is None:
        if len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
            # drop entries from other sessions first, else oldest
            for k in [k for k in _EXPR_CACHE if k[0] != key[0]] or [
                next(iter(_EXPR_CACHE))
            ]:
                _EXPR_CACHE.pop(k, None)
        col = build()
        _EXPR_CACHE[key] = col
    return col


_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
_arrow_off_warned = False


def _warn_if_arrow_off(spark) -> None:
    """Warn once per process when ``tiny_rows_df`` is about to take the
    ~26× slower Python-RDD path because the session lacks the Arrow
    conf."""
    global _arrow_off_warned
    if _arrow_off_warned:
        return
    if spark.conf.get(_ARROW_CONF, "false").strip().lower() != "true":
        import warnings

        _arrow_off_warned = True
        warnings.warn(
            f"tiny_rows_df: {_ARROW_CONF} is not 'true' in this session, so "
            "metadata frames take the Python-RDD path (~26x slower per "
            "call than Arrow); set the conf to 'true'",
            RuntimeWarning,
            stacklevel=3,
        )


def tiny_rows_df(spark, rows, schema=None) -> DataFrame:
    """Arrow local-relation frame for METADATA-SIZED row sets (markers,
    tombstones, tallies, count sentinels — review r12).
    ``createDataFrame`` over plain Python rows parallelizes into
    ``defaultParallelism`` Python-RDD partitions, so a coalesce(1)
    sidecar write of a 25-row frame pays ~4 s of Python-worker plumbing
    per call (measured; 0.15 s via the pandas/Arrow local-relation
    path, 26×), and every union/join against such a frame drags Python
    workers into an otherwise JVM-side job. ``rows``: a list of dicts
    sharing one key set, or a list of tuples with an explicit
    ``schema`` (DDL string or StructType).

    Without ``spark.sql.execution.arrow.pyspark.enabled=true`` Spark
    silently takes the Python-RDD path instead; that warns once per
    process (``RuntimeWarning``) and still returns the right frame."""
    import pandas as pd

    _warn_if_arrow_off(spark)

    if schema is None:
        names = None
    elif isinstance(schema, list):  # bare column names (types inferred)
        names = list(schema)
    elif isinstance(schema, str):
        # real DDL parse, not a comma split (review r12: nested types —
        # map<string,int>, decimal(10,2) — would shred under a naive
        # split and silently mis-assign dict values)
        from pyspark.sql.types import _parse_datatype_string

        names = _parse_datatype_string(schema).fieldNames()
    else:
        names = schema.fieldNames()
    if not rows and (schema is None or isinstance(schema, list)):
        # Fail HERE, not as CANNOT_INFER_EMPTY_SCHEMA deep inside Spark
        # with no hint of the caller (VERDICT r12 #2 — an empty-splits
        # bug surfaced as an unreadable Arrow error). Empty metadata
        # frames are legal only with a TYPED schema (DDL/StructType).
        raise ValueError(
            "tiny_rows_df: empty rows need a typed schema (DDL string or"
            " StructType), got "
            + ("no schema" if schema is None else "bare column names")
        )
    if rows and isinstance(rows[0], dict):
        pdf = pd.DataFrame(rows, columns=names or list(rows[0].keys()))
        # pandas coerces a None in an otherwise-numeric column to a
        # float64 NaN, which Spark keeps as NaN — NOT a typed NULL
        # (ADVICE r12). Without a typed schema to pin intent, that
        # silently changes semantics vs the createDataFrame([dict])
        # path this replaces; convert back to None so Arrow emits NULL.
        if schema is None or isinstance(schema, list):
            for c in pdf.columns[pdf.isna().any().values]:
                pdf[c] = pdf[c].astype(object).where(pd.notna(pdf[c]), None)
    else:
        if names is None:
            raise ValueError("tiny_rows_df: tuple rows need a schema")
        pdf = pd.DataFrame(rows, columns=names)
    if schema is None:
        return spark.createDataFrame(pdf)
    return spark.createDataFrame(pdf, schema)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input is under-parallelized for CPU-heavy work.

    Single-file/single-row-group parquet inputs plan as 1-3 scan tasks —
    fine for IO-light plans, but anything doing per-row heavy lifting
    (shingle explosion, hash fan-out, pandas UDFs) would run on one core.
    A round-robin repartition costs one shuffle of the (small) input rows
    and buys full-width execution of the expensive stage. On a real
    cluster with many input files this is a no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
