"""Sources, with the reference's ingest cleaning built in.

Reference ingest semantics:
- CSV bulk loads into an all-text staging table
  (`quickstats.sql:35-57`), every column whitespace-trimmed
  (`quickstats.sql:64-89` updateQuickStats), then de-duplicated with
  SELECT DISTINCT into the real table (`nass.mk:38`,
  `quickstats.sql:91` makeQuickStats).
- JSON API responses are flattened from the ``data[]`` array and
  column-projected (`nass.mk:104-110` via jq).

Spark-first: trimming is a projection (codegen); dedup is
``dropDuplicates`` (hash aggregate, AQE-coalesced); JSON flattening
is ``explode`` on the parsed array — all streaming-friendly, nothing
driver-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType


def trim_all_strings(df: DataFrame) -> DataFrame:
    """Trim every string column (updateQuickStats parity)."""
    cols = [
        F.trim(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, StringType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def read_csv_clean(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    dedup: bool = True,
    header: bool = True,
) -> DataFrame:
    """CSV source with trim + distinct ingest cleaning.

    With an explicit schema the scan avoids the inference pass —
    mandatory at scale (inference reads the data twice).
    """
    reader = spark.read.option("header", header).option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    df = trim_all_strings(reader.csv(path))
    return df.dropDuplicates() if dedup else df


def read_json_records(
    spark: SparkSession,
    path: str,
    record_path: str | None = "data",
    columns: Sequence[str] | None = None,
    multiline: bool = True,
) -> DataFrame:
    """JSON source flattening a nested record array (usda_api shape:
    ``{"data": [{...}, ...]}``).

    ``record_path=None`` reads line-delimited records directly —
    the scalable layout; the multiline+explode path exists for
    API-response archives like the reference's.
    """
    reader = spark.read
    if multiline:
        reader = reader.option("multiLine", True)
    df = reader.json(path)
    if record_path and record_path in df.columns:
        df = df.select(F.explode(F.col(record_path)).alias("__rec")).select("__rec.*")
    if columns:
        df = df.select(*columns)
    return df


def read_parquet(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """Parquet scan; explicit column list prunes at the reader."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_parquet_evolving(
    spark: SparkSession,
    path: str,
    target_schema: str,
) -> DataFrame:
    """Parquet source tolerant of SCHEMA EVOLUTION across file
    generations — the reality of any long-lived ingest directory
    (v1 files lack columns v2 added; a column widened int→long):

    the CONTRACT schema (a DDL string) is pushed straight into the
    scan rather than footer-merged: ``mergeSchema`` refuses type
    conflicts outright (INT vs BIGINT fails the merge), while the
    schema-first read resolves per file by NAME — columns a file
    lacks surface as typed nulls, extra columns never leave the
    reader, and the vectorized reader applies Spark 4's widening
    type promotions (int32 files read as the contract's LONG)
    per-file. Also strictly better for scale: no footer-merge
    pre-pass over every file, and pruning/pushdown operate on the
    contract schema directly. A lossy mismatch (file LONG vs
    contract INT) raises at scan time rather than silently
    truncating.
    """
    return spark.read.schema(target_schema).parquet(path)


def read_orc(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """ORC source; column pruning and predicate pushdown work exactly
    as for parquet (both are columnar with per-stripe statistics)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal blob ingest via Spark's ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content).

    This is the real on-ramp for image/audio/video corpora — the
    decode/feature stages (operators/multimodal.py) consume the
    ``content`` binary column unchanged. ``pathGlobFilter`` prunes by
    extension at LISTING time (files never opened); ``max_bytes``
    guards executors against a single pathological blob. At cluster
    scale the source parallelizes by file, so millions of small blobs
    want an upstream compaction into parquet (see
    ``write_parquet_partitioned``) — this reader is the ingest edge,
    not the steady-state store.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
    min_chars: int = 1,
) -> DataFrame:
    """Raw-text corpus ingest: ``spark.read.text`` with one document
    per LINE (default, the jsonl/one-doc-per-line layout) or per FILE
    (``wholetext`` — e.g. one article per .txt).

    Output: (doc_path, doc_seq, text, n_chars) — a stable id pair
    (input file + line ordinal via a per-file window; zero for whole
    files), ready for the dedup/quality/packing operators. Blank and
    sub-``min_chars`` lines are dropped at scan time.
    """
    if whole_file:
        df = spark.read.text(path, wholetext=True)
        base = df.select(
            F.input_file_name().alias("doc_path"),
            F.lit(0).cast("bigint").alias("doc_seq"),
            F.col("value").alias("text"),
        )
    else:
        from pyspark.sql import Window

        df = spark.read.text(path).select(
            F.input_file_name().alias("doc_path"),
            F.col("_metadata.file_block_start").alias("__blk"),
            F.monotonically_increasing_id().alias("__rid"),
            F.col("value").alias("text"),
        )
        # per-file ordinal: order splits of a file by their BYTE
        # OFFSET (_metadata.file_block_start), then lines within a
        # split by the monotonic id (one scan task reads its split in
        # order). Ordering by the monotonic id alone would bake in
        # the partition index, and Spark packs splits into partitions
        # largest-file-first — for files wider than one split that
        # ordering is not file order and varies with
        # maxPartitionBytes. The window is partitioned by file so no
        # global sort is needed.
        w = Window.partitionBy("doc_path").orderBy("__blk", "__rid")
        base = df.select(
            "doc_path",
            (F.row_number().over(w) - 1).cast("bigint").alias("doc_seq"),
            "text",
        )
    return base.withColumn("n_chars", F.length("text").cast("bigint")).where(
        F.col("n_chars") >= min_chars
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """JSON-Lines source (one object per line — the interchange format
    LLM-corpus distributions actually ship as, e.g. web-crawl dumps).
    Pass ``schema`` in production: without it Spark runs a full
    inference scan BEFORE the real read — twice the I/O at 100 TB.
    Compressed inputs (.gz/.zst per-file codecs) decode transparently;
    note gzip files are not splittable, so corpus shards should be
    many files of moderate size, not one giant archive."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CSV ingest with a QUARANTINE lane (SURVEY.md §2 D20): parse in
    PERMISSIVE mode against an explicit schema, route rows that fail
    the contract to a quarantine relation (the raw line preserved for
    replay) and return the 3-tuple ``(clean, quarantined, cached_df)``
    — the third element is the cached parse frame both lanes project
    from; the caller must ``cached_df.unpersist()`` once both lanes
    are consumed (details in the inline note below).

    The production posture for 100 TB CSV drops: FAILFAST kills a
    week-long backfill on row 3, DROPMALFORMED silently loses data —
    the quarantine lane keeps the pipeline running AND auditable
    (the reference's all-text staging table solves the same problem
    by deferring typing; here the contract is enforced at the scan
    with the rejects preserved). Both outputs are projections of one
    scan — no extra pass.

    Note Spark's documented caveat: a parsed-then-filtered corrupt
    column requires the raw column in the schema; this helper adds
    it and strips it from the clean lane.
    """
    if isinstance(schema, str):
        base = f"{schema}, {corrupt_col} STRING"
    else:  # pragma: no cover - StructType callers add the col themselves
        base = schema
    df = (
        spark.read.schema(base)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", "true")
        .csv(path)
    )
    # Spark populates corrupt_col for rows that failed the schema;
    # cache() is the documented requirement before filtering on it
    # (the raw-record column is attached during parsing only). The
    # cached parse is returned as the third element so the caller can
    # .unpersist() it once both lanes are consumed — without it the
    # whole CSV drop stays pinned in storage memory for the session.
    df = df.cache()
    clean = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = df.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, quarantined, df


def manifest_incremental_read(
    spark: SparkSession,
    data_glob: str,
    manifest_dir: str,
    schema: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """Manifest-gated incremental ingest (SURVEY.md §2 D21): read
    ONLY files not yet recorded in the manifest and return
    ``(new_rows_df, new_file_list)``; after a successful downstream
    commit the caller appends the list via :func:`manifest_commit`.

    This is the batch analog of Structured Streaming's file-source
    checkpoint (and the shape Auto-Loader-style services sell): at
    100 TB an hourly backfill cannot re-list + re-read the whole lake,
    and "processed exactly once" must survive job restarts. File
    identity is the path; the listing stays driver-side but is
    bounded by the directory's file count, never row count.
    """
    import os as _os

    seen: set[str] = set()
    mf = _os.path.join(manifest_dir, "manifest.txt")
    if _os.path.exists(mf):
        with open(mf) as fh:
            seen = {ln.strip() for ln in fh if ln.strip()}
    import glob as _glob

    all_files = sorted(_glob.glob(data_glob))
    new_files = [f for f in all_files if f not in seen]
    if not new_files:
        # empty batch: derive the schema WITHOUT re-reading the glob
        # (Spark throws PATH_NOT_FOUND on a glob matching zero files,
        # which is exactly the pre-first-file state of a new lake)
        if schema is not None:
            empty = spark.createDataFrame([], schema)
        elif all_files:
            empty = spark.read.parquet(*all_files).limit(0)
        else:
            raise ValueError(
                "manifest_incremental_read: no files exist yet and no "
                "schema was given — pass schema= so the empty batch "
                "has a shape"
            )
        return empty, []
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(*new_files), new_files


def manifest_commit(manifest_dir: str, new_files: Sequence[str]) -> None:
    """Append processed files to the manifest (idempotent append —
    re-commits of the same list are harmless because reads
    set-dedupe). Call AFTER the downstream write succeeds, so a
    failed job retries the same files (at-least-once into an
    idempotent sink = exactly-once)."""
    import os as _os

    _os.makedirs(manifest_dir, exist_ok=True)
    with open(_os.path.join(manifest_dir, "manifest.txt"), "a") as fh:
        for f in new_files:
            fh.write(f + "\n")


def manifest_vacuum(
    data_glob: str,
    manifest_dir: str,
    retention_sec: float,
    now: float | None = None,
) -> dict:
    """VACUUM-style expiry for the manifest-gated lake — the
    maintenance pass that completes the ingest lifecycle (land →
    process → commit → EXPIRE), the plain-directory analog of a
    lakehouse table format's ``VACUUM``/snapshot-expiry.

    Deletes a landed file only when BOTH safety conditions hold:
    it is recorded in the manifest (downstream fully committed it —
    an unprocessed file is never touched, however old), AND its
    mtime is older than ``retention_sec`` (in-flight readers of a
    recently processed file keep their window). Manifest entries for
    deleted or already-missing files are pruned by an atomic
    tmp+rename rewrite, so a crash mid-vacuum leaves either the old
    or the new manifest, never a torn one. Pruning is what keeps the
    manifest's read cost bounded by the LIVE file count over years
    of hourly drops (the same reason real table formats expire
    snapshots). Like ``manifest_incremental_read``, everything here
    is driver-side metadata work bounded by file count, never rows.

    Returns a report dict: ``deleted`` (paths removed), ``kept``
    (processed but inside retention), ``unprocessed`` (not in the
    manifest, never candidates), ``pruned_entries`` (manifest lines
    dropped — deletions plus orphans).
    """
    import glob as _glob
    import os as _os
    import time as _time

    ts = _time.time() if now is None else now
    mf = _os.path.join(manifest_dir, "manifest.txt")
    seen: set[str] = set()
    if _os.path.exists(mf):
        with open(mf) as fh:
            seen = {ln.strip() for ln in fh if ln.strip()}

    all_files = sorted(_glob.glob(data_glob))
    deleted: list[str] = []
    kept: list[str] = []
    unprocessed: list[str] = []
    for f in all_files:
        if f not in seen:
            unprocessed.append(f)
        elif ts - _os.path.getmtime(f) > retention_sec:
            _os.remove(f)
            deleted.append(f)
        else:
            kept.append(f)

    live = set(all_files) - set(deleted)
    survivors = sorted(f for f in seen if f in live)
    pruned = len(seen) - len(survivors)
    if pruned and _os.path.exists(mf):
        tmp = mf + ".tmp"
        with open(tmp, "w") as fh:
            for f in survivors:
                fh.write(f + "\n")
        _os.replace(tmp, mf)
    return {
        "deleted": deleted,
        "kept": kept,
        "unprocessed": unprocessed,
        "pruned_entries": pruned,
    }


def manifest_commit_versioned(
    manifest_dir: str, new_files: Sequence[str]
) -> int:
    """Versioned commit for the manifest lake (D21b): each commit is
    ONE file ``commits/<version>.txt`` written via tmp+rename, so a
    crash leaves either a complete commit or none — and the commit
    history doubles as a SNAPSHOT LOG: the table "as of version v"
    is exactly the union of commits ≤ v (the plain-directory analog
    of a lakehouse format's snapshot list; what Delta/Iceberg sell as
    time travel). Returns the committed version number.

    Empty commits are refused (a version must mean new data), and
    the version counter is derived from the existing commit files.
    Publishing uses ``os.link(tmp, final)`` — an atomic
    create-EXCLUSIVE, which fails EEXIST if a racing writer already
    claimed the version (``os.rename`` would silently REPLACE the
    other writer's commit, so an exists-check before it is TOCTOU);
    on collision the loser re-derives the next free version and
    retries, so both commits land, in version order.
    """
    import errno as _errno
    import os as _os

    if not new_files:
        raise ValueError("manifest_commit_versioned: empty commit")
    cdir = _os.path.join(manifest_dir, "commits")
    _os.makedirs(cdir, exist_ok=True)
    existing = _list_commit_versions(manifest_dir)
    version = (max(existing) + 1) if existing else 1
    tmp = _os.path.join(cdir, f".inflight-{_os.getpid()}-{id(new_files)}.tmp")
    with open(tmp, "w") as fh:
        for f in new_files:
            fh.write(f + "\n")
    try:
        while True:
            final = _os.path.join(cdir, f"{version:06d}.txt")
            try:
                _os.link(tmp, final)  # atomic create-exclusive publish
                return version
            except OSError as exc:  # pragma: no cover — racing writer
                if exc.errno != _errno.EEXIST:
                    raise
                version += 1
    finally:
        _os.unlink(tmp)


def _list_commit_versions(manifest_dir: str) -> list[int]:
    import glob as _glob
    import os as _os

    return sorted(
        int(_os.path.basename(p)[:-4])
        for p in _glob.glob(_os.path.join(manifest_dir, "commits", "*.txt"))
        if not p.endswith(".tmp")
    )


def manifest_read_as_of(
    spark: SparkSession,
    manifest_dir: str,
    version: int | None = None,
    schema: str | None = None,
) -> tuple[DataFrame, int, list[str]]:
    """TIME-TRAVEL read of the versioned manifest lake: the table as
    of ``version`` (default: latest) is the union of the files
    recorded by commits 1..version — yesterday's report reruns
    byte-identically even after later commits landed. Reading is
    driver-side metadata bounded by commit-file count; the data scan
    is the usual distributed parquet read of exactly the snapshot's
    files. Returns ``(df, version_read, files)``; loud-fails an
    unknown version (a silent fallback to latest would un-pin the
    snapshot the caller asked for).
    """
    import os as _os

    versions = _list_commit_versions(manifest_dir)
    if not versions:
        raise ValueError(f"no commits under {manifest_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"manifest_read_as_of: version {version} not in {versions}"
        )
    files: list[str] = []
    for v in versions:
        if v > version:
            break
        with open(_os.path.join(manifest_dir, "commits", f"{v:06d}.txt")) as fh:
            files.extend(ln.strip() for ln in fh if ln.strip())
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(*files), version, files


def manifest_versioned_new_files(
    data_glob: str, manifest_dir: str
) -> list[str]:
    """Unseen files for the next versioned commit: the glob minus
    every file recorded by any existing commit (the incremental-read
    device of D21 against the versioned log)."""
    import glob as _glob
    import os as _os

    seen: set[str] = set()
    for v in _list_commit_versions(manifest_dir):
        with open(_os.path.join(manifest_dir, "commits", f"{v:06d}.txt")) as fh:
            seen |= {ln.strip() for ln in fh if ln.strip()}
    return [f for f in sorted(_glob.glob(data_glob)) if f not in seen]
