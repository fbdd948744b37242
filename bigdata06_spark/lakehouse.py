"""Minimal lakehouse table format: versioned file log + copy-on-write
MERGE + time travel, on plain parquet.

The public mechanics of Delta/Iceberg (transaction log listing the
file set per version; writers replace whole files, never rows; readers
pin a version's file set) implemented small enough to audit:

- `<path>/data/v<N>-*.parquet` — immutable data files, range-bucketed
  and sorted on the table key so each file covers a narrow key range
  (the property COW needs: a keyed change touches few files).
- `<path>/_log/<N>.json` — one JSON per version: `{"add": [...],
  "remove": [...]}`. Version N's file set = replay of logs 0..N.
- MERGE (update + delete legs) rewrites ONLY the files whose
  [min, max] key range overlaps the touched keys — file-level ranges
  come from the parquet footers' row-group statistics, the metadata
  Iceberg planFiles prunes on; no table data is read to plan.

Scale shape: the log is O(files-changed) per version; reads list one
JSON per version (compact into snapshots at production version
counts); the rewrite reads/writes only overlapping files. No
row-level state anywhere.
"""

from __future__ import annotations

import decimal
import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DATA = "data"
_LOG = "_log"


class CommitConflictError(RuntimeError):
    """Raised when a writer loses the optimistic-concurrency race:
    another writer committed the version this writer computed. The
    loser's data files (written under a unique subdirectory before
    the log commit) become unreferenced orphans that `vacuum`
    reclaims; the log itself is never corrupted because the commit is
    a single atomic create-if-absent of `<N>.json` (the same protocol
    as Delta's `_delta_log` put-if-absent / Iceberg's atomic snapshot
    swap). Callers may re-read the table state and retry."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _list_data_files(path: str, sub: str) -> list[str]:
    """All parquet files under one attempt directory, table-relative.
    Recursive: partitioned tables nest Hive-style `col=val` directories
    inside the attempt dir."""
    d = os.path.join(path, _DATA, sub)
    out = []
    for dirpath, _dirnames, filenames in os.walk(d):
        for f in filenames:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(dirpath, f), path))
    return sorted(out)


def _publish_json(target: str, obj, *, exclusive: bool) -> None:
    """Publish `obj` as JSON at `target` so no reader can ever parse an
    empty or partial body: write and fsync a temp sibling
    (`<target>.tmp-<uuid>`, which log and manifest listings ignore),
    then give it the target name. `exclusive=True` hard-links — `link`
    fails with EEXIST when the target exists, the same atomic
    create-if-absent as O_CREAT|O_EXCL — and raises
    CommitConflictError on a lost race (log commits). `exclusive=False`
    renames over the target (the checkpoint entry swap, the manifest
    meta swap), so a reader sees the old or the new body. The fsync
    comes first in both cases: a crash can never leave the name
    pointing at a body that is not on disk."""
    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    if not exclusive:
        os.replace(tmp, target)
        return
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise CommitConflictError(
            f"{target} was committed by a concurrent writer; re-read the "
            "table and retry"
        ) from None
    finally:
        os.unlink(tmp)


def _commit_log(path: str, version: int, entry: dict) -> None:
    """Atomic optimistic-concurrency commit: publish `<version>.json`
    if-and-only-if absent, complete (`_publish_json(exclusive=True)`).
    Two writers that both computed `current_version()+1` race here and
    exactly one wins; the loser raises CommitConflictError with the log
    untouched. Data files are written BEFORE this call under a
    per-attempt unique subdirectory, so a losing attempt leaves only
    unreferenced files (vacuum reclaims them), never a half-visible
    version."""
    os.makedirs(_log_dir(path), exist_ok=True)
    entry.setdefault("ts", time.time())  # commit wall clock (TIMESTAMP AS OF)
    _publish_json(os.path.join(_log_dir(path), f"{version}.json"), entry,
                  exclusive=True)


def _write_log(path: str, version: int, add: list[str], remove: list[str]) -> None:
    entry = {"add": sorted(add), "remove": sorted(remove)}
    entry.update(_entry_partition_meta(add))
    _commit_log(path, version, entry)


# ------------------------------------------------- partition columns
#
# Hive-style partition layout (VERDICT r4 #3): `partition_by=['col']`
# tables write `data/v<N>-<attempt>/<col>=<val>/part-*.parquet`. Two
# deliberate departures from Spark's stock partitionBy semantics:
#
# 1. The partition columns STAY IN THE DATA FILES. Stock partitionBy
#    drops them into the directory name only, which forces readers to
#    run partition DISCOVERY — impossible for this format's
#    explicit-file-list reads (a version's files span several attempt
#    dirs, and the `v<N>-` segment is not `k=v`-shaped, so no single
#    basePath works). Keeping the columns means every existing reader
#    (read_version, CDF, row-CDF, streaming source) works unchanged;
#    the directory layout is purely the PRUNING/organization axis.
#    (Implementation: the writer partitions by a `__p_<col>` copy,
#    then the temp-named dirs are renamed to `<col>=<val>` — a
#    driver-side O(partitions-touched) pass, the same order as the
#    per-partition metadata Delta tracks.)
# 2. The log records `partition_by` (v0 / checkpoint entries) and
#    per-file `partition_values` (every add), so the PLANNER prunes
#    from the log alone — no directory listing, no file I/O — exactly
#    like Delta's add.partitionValues. The file path is the same
#    information (asserted equal in tests); the log copy is what a
#    scale deployment reads.

_PTMP = "__p_"


#: bulk keys a parquet-checkpoint sidecar can hydrate back into the
#: entry dict (everything else a checkpoint carries stays in its JSON)
_CKPT_BULK = ("add", "stats", "blooms", "dvs")


def _hydrate_checkpoint_bulk(path: str, entry: dict,
                             bulk: tuple[str, ...]) -> None:
    """Load the requested per-file bulk state from a parquet-
    checkpoint sidecar into `entry`, restoring exactly the shape a
    JSON checkpoint carries (round 9 — SCALE.md named the log format
    as the last replay lever: the giant squashed entry's json.load
    was ~5 s/GB single-threaded at 1M files; the sidecar is a
    columnar read, and consumers that only need metadata never load
    the bulk at all).

    Column mapping: `file` → add list; `stats_json` (compact per-file
    JSON, batch-parsed in ONE json.loads) → stats; `bl_<c>` typed
    string columns → blooms; `dv` list column → dvs. Presence rules
    mirror checkpoint_log's JSON emission: stats only when the table
    has stats_cols, blooms only with a bloom spec, dvs only when live
    DVs exist."""
    import pyarrow.parquet as pq

    side = os.path.join(_log_dir(path), entry["checkpoint_parquet"])
    want_stats = "stats" in bulk and "stats_cols" in entry
    bl_names = []
    if "blooms" in bulk and "bloom" in entry:
        bl_names = [f"bl_{c}" for c in entry["bloom"].get("cols", [])]
    cols = ["file"]
    if want_stats:
        cols.append("stats_json")
    cols += bl_names
    if "dvs" in bulk:
        cols.append("dv")
    tbl = pq.read_table(side, columns=cols)
    files = tbl.column("file").to_pylist()
    if "add" in bulk:
        entry["add"] = files
    if want_stats:
        sj = tbl.column("stats_json").to_pylist()
        pairs = [(f, s) for f, s in zip(files, sj) if s]
        parsed = (
            json.loads("[" + ",".join(s for _f, s in pairs) + "]")
            if pairs else []
        )
        entry["stats"] = {f: st for (f, _s), st in zip(pairs, parsed)}
    if "blooms" in bulk and "bloom" in entry:
        per_col = {n[3:]: tbl.column(n).to_pylist() for n in bl_names}
        blooms: dict = {}
        for i, f in enumerate(files):
            b = {c: v[i] for c, v in per_col.items() if v[i] is not None}
            if b:
                blooms[f] = b
        entry["blooms"] = blooms
    if "dvs" in bulk:
        dvc = tbl.column("dv").to_pylist()
        dvs = {f: list(d) for f, d in zip(files, dvc) if d}
        if dvs:
            entry["dvs"] = dvs


def _read_entry(path: str, v: int,
                bulk: tuple[str, ...] = _CKPT_BULK) -> dict | None:
    """Load log entry `v` (None when squashed away), hydrating a
    parquet-checkpoint sidecar's bulk state on demand. `bulk` names
    which per-file keys the caller folds — metadata-only consumers
    pass () and never pay the sidecar read."""
    lp = os.path.join(_log_dir(path), f"{v}.json")
    if not os.path.exists(lp):
        return None
    with open(lp) as fh:
        entry = json.load(fh)
    if bulk and entry.get("checkpoint_parquet"):
        _hydrate_checkpoint_bulk(path, entry, bulk)
    return entry


def _iter_log_entries(path: str, version: int | None = None,
                      bulk: tuple[str, ...] = ()):
    """Yield (version, entry) for every surviving log entry up to
    `version` (latest when None); checkpoint-squashed versions skip.
    Bulk-free by default. Table state is `snapshot`'s job — this
    iterator serves entry-level listings (vacuum's sidecar refs)."""
    latest = current_version(path)
    v_hi = latest if version is None else version
    for v in range(v_hi + 1):
        entry = _read_entry(path, v, bulk)
        if entry is not None:
            yield v, entry


def _pvals_of_rel(rel_path: str) -> dict[str, str]:
    """Partition values encoded in a table-relative file path
    (`data/v0-x/col=val/file.parquet` → {'col': 'val'})."""
    vals: dict[str, str] = {}
    for seg in rel_path.split("/")[2:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = v
    return vals


def _entry_partition_meta(add: list[str]) -> dict:
    pv = {f: _pvals_of_rel(f) for f in sorted(add)}
    pv = {f: v for f, v in pv.items() if v}
    return {"partition_values": pv} if pv else {}


def table_partition_by(path: str) -> list[str]:
    """The table's partition columns ([] when unpartitioned) — recorded
    at init and re-emitted by checkpoint_log."""
    return snapshot(path, bulk=()).pby


def _rel_of_uri(abs_uri: str, prev_files: set[str]) -> str:
    """Resolve a scanner file URI to the name AS LISTED in the log:
    shallow-cloned files are listed by their source-absolute path,
    native files by their table-relative data/ suffix. O(1) per file;
    an unresolvable path is a loud error (protocol corruption), never
    a fabricated name."""
    p = abs_uri
    for pre in ("file://", "file:"):
        if p.startswith(pre):
            p = p[len(pre):]
            break
    if not p.startswith("/"):
        p = "/" + p
    if p in prev_files:
        return p
    rel = _DATA + "/" + abs_uri.split(f"/{_DATA}/", 1)[1]
    if rel not in prev_files:
        raise ValueError(f"unknown data file {abs_uri}")
    return rel


# ---------------------------------------------------- parquet footers
#
# Scans and MERGE plan from the data files' footers instead of Spark
# jobs. A footer carries the schema Spark wrote (the one a mergeSchema
# read infers for the file) and per-row-group min/max per column.
# Committed data files are immutable, so one footer read per file per
# process suffices: the memo is keyed on (absolute path, size,
# mtime_ns), and a file rewritten in place is read again.
#
# RANGE SOUNDNESS: a column's [lo, hi] is recorded only when EVERY row
# group carries min and max and the parquet type orders like its Spark
# type: integers, decimals, dates, strings (unsigned bytewise, as
# Spark compares strings) and booleans. Floats and doubles (NaN and
# -0.0 ordering), INT96 and INT64 timestamps, binary, all-NULL chunks
# (no min/max) and nested columns get no range; callers treat a file
# without a range for a column as possibly holding any value.

#: footer key under which Spark stores the writer's schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: (physical type, logical type) pairs whose footer min/max order
#: matches Spark's comparison of the column's values
_RANGED = {
    ("BOOLEAN", "NONE"),
    ("INT32", "NONE"), ("INT32", "INT"), ("INT32", "DATE"), ("INT32", "DECIMAL"),
    ("INT64", "NONE"), ("INT64", "INT"), ("INT64", "DECIMAL"),
    ("BYTE_ARRAY", "STRING"), ("BYTE_ARRAY", "DECIMAL"),
    ("FIXED_LEN_BYTE_ARRAY", "DECIMAL"),
}


@dataclass(frozen=True)
class Footer:
    """What planning reads from one data file's parquet footer."""
    #: Spark's schema as the writer stored it; None for files from
    #: other writers (pyarrow), whose Spark types only inference gives
    schema: T.StructType | None
    #: the file's Arrow schema (column names, and the DataSource's
    #: session-less type mapping)
    arrow: object
    num_rows: int
    #: column -> (lo, hi) over all row groups, ranged columns only
    ranges: dict


#: absolute path -> ((size, mtime_ns), Footer); replaced on a miss
_FOOTERS: dict[str, tuple[tuple[int, int], Footer]] = {}


@functools.lru_cache(maxsize=64)
def _spark_schema_of(js: bytes) -> T.StructType | None:
    """Parse a footer's Spark schema JSON (the files of a table share
    a handful of distinct strings, so each parses once)."""
    try:
        return T.StructType.fromJson(json.loads(js))
    except (ValueError, KeyError, TypeError):
        return None


def _stat_value(col, st, which: str):
    """One row group's min or max as a Python value of the column's
    logical type. Decimals come from the raw unscaled integer: pyarrow
    does not convert INT32/INT64-backed decimal statistics."""
    if col.logical_type.type == "DECIMAL":
        raw = getattr(st, which + "_raw")
        if isinstance(raw, bytes):
            raw = int.from_bytes(raw, "big", signed=True)
        return decimal.Decimal(raw).scaleb(-col.scale)
    return getattr(st, which)


def _column_ranges(md, flat: set[str]) -> dict:
    """column -> (lo, hi) over every row group, for the top-level
    columns in `flat` that satisfy the soundness rules above."""
    out = {}
    for j in range(md.num_columns):
        col = md.schema.column(j)
        if col.path not in flat or (
                col.physical_type, col.logical_type.type) not in _RANGED:
            continue
        lo = hi = None
        try:
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                if st is None or not st.has_min_max:
                    break
                mn, mx = _stat_value(col, st, "min"), _stat_value(col, st, "max")
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            else:
                if lo is not None:
                    out[col.path] = (lo, hi)
        except (ValueError, TypeError, NotImplementedError):
            pass  # undecodable statistics: no range
    return out


def footer(abs_path: str) -> Footer:
    """The planning view of one data file's footer, memoized per
    immutable file (see the section comment)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    st = os.stat(abs_path)
    sig = (st.st_size, st.st_mtime_ns)
    hit = _FOOTERS.get(abs_path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    pf = pq.ParquetFile(abs_path)
    md, arrow = pf.metadata, pf.schema_arrow
    js = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    flat = {f.name for f in arrow if not pa.types.is_nested(f.type)}
    ft = Footer(
        schema=_spark_schema_of(js) if js else None,
        arrow=arrow,
        num_rows=md.num_rows,
        ranges=_column_ranges(md, flat),
    )
    _FOOTERS[abs_path] = (sig, ft)
    return ft


def _footer_schema(files: list[str]) -> T.StructType | None:
    """The union of `files`' Spark footer schemas, in first-occurrence
    column order: what a mergeSchema read infers for them, without its
    job. None when there are no files, a file has no Spark schema or
    two files disagree on a column's type; Spark's own inference is
    then the authority."""
    fields: dict[str, T.StructField] = {}
    for p in files:
        sch = footer(os.path.abspath(p)).schema
        if sch is None:
            return None
        for f in sch.fields:
            have = fields.get(f.name)
            if have is None:
                fields[f.name] = T.StructField(f.name, f.dataType, True, f.metadata)
            elif have.dataType != f.dataType:
                return None
    return T.StructType(list(fields.values())) if fields else None


def _scan(spark: SparkSession, path: str, rel_files: list[str]) -> DataFrame:
    """The raw parquet scan of `rel_files` (table-relative, or absolute
    for clone-adopted files) that every lakehouse read starts from.
    Planned with the footers' union schema, so it starts no job; when
    the footers cannot give that schema, Spark infers it."""
    files = [os.path.join(path, f) for f in rel_files]
    schema = _footer_schema(files)
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return spark.read.schema(schema).parquet(*files)


def _merge_move(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _merge_move(s, d)
        else:
            os.replace(s, d)
    os.rmdir(src)


def _finalize_partition_dirs(out_dir: str) -> None:
    """Rename the writer's `__p_<col>=<val>` directories to Hive-style
    `<col>=<val>`, merging into an existing target (append legs write
    into an attempt dir that already has the partition's directory;
    part-file names are task-unique so moves never collide)."""
    for dirpath, dirnames, _filenames in os.walk(out_dir, topdown=False):
        for dn in dirnames:
            if dn.startswith(_PTMP) and "=" in dn:
                _merge_move(
                    os.path.join(dirpath, dn),
                    os.path.join(dirpath, dn[len(_PTMP):]),
                )


def _write_partitioned(df: DataFrame, out: str, key: str, n_files: int,
                       partition_by: list[str], mode: str = "overwrite") -> None:
    """Partition-laid-out write that keeps the partition columns in
    the data files (see the module comment above): range-partition on
    (partition cols, key) so same-partition rows co-locate (≈ n_files
    files total, not n_files × partitions), sort by key within tasks
    for the per-file key-range stats the COW planner prunes on."""
    tmp_cols = [f"{_PTMP}{c}" for c in partition_by]
    d = df
    for c, t in zip(partition_by, tmp_cols):
        d = d.withColumn(t, F.col(c))
    (
        d.repartitionByRange(
            n_files, *[F.col(c) for c in partition_by], F.col(key)
        )
        .sortWithinPartitions(key)
        .write.partitionBy(*tmp_cols)
        .mode(mode)
        .parquet(out)
    )
    _finalize_partition_dirs(out)


# ------------------------------------------- file-level column stats
#
# STATS-BASED DATA SKIPPING (Delta's minValues/maxValues): tables
# initialized with `stats_cols=[...]` record per-file [min, max] for
# those columns in every commit's log entry, computed DISTRIBUTED
# (one `_metadata.file_path` groupBy over the just-written files —
# only the (file → bounds) rows reach the driver, the same contract
# as the COW planner's key ranges). Readers pass `stats_filter=
# {col: (lo, hi)}` and the PLANNER drops every file whose recorded
# range cannot intersect — the mechanism that makes a range predicate
# on the table's cluster axis scan O(matching files) instead of the
# table. Skipping is SOUND, not exact: a file with missing stats (old
# vintage, evolved column) is kept, and the caller still applies the
# real filter — pruning only ever removes provably-empty files.


def table_stats_cols(path: str) -> list[str]:
    """Columns with per-file stats ([] when none) — recorded at init,
    re-emitted by checkpoint_log."""
    return snapshot(path, bulk=()).scols


def _json_scalar(v):
    """JSON-safe stats bound: numbers/strings/bools pass through;
    dates/timestamps/decimals serialize to their ISO string (whose
    lexicographic order equals their natural order — what the
    overlap compare relies on)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _abs_to_listed_map(path: str, files: list[str]) -> dict[str, str]:
    """Exact abs-path -> listed-name map (files may be data/-rel,
    CONVERT-adopted abs, or clone-source abs — suffix surgery can't
    cover all three)."""
    return {os.path.abspath(os.path.join(path, f)): f for f in files}


def _listed_name_of_uri(uri: str, abs_to_listed: dict[str, str]) -> str:
    """Resolve a scanner _metadata.file_path URI to the name AS LISTED
    in the log. Scanner URIs carry a file:/ prefix and percent-escape
    partition-dir characters (`col=NOT%20SPECIFIED`); listed names
    store them literally. ONE implementation for every per-file
    metadata collector (review r9: the stats and bloom collectors
    carried diverging copies and the bloom copy missed the unquote —
    escaped-partition blooms were recorded under names no lookup ever
    hit)."""
    from urllib.parse import unquote

    p = uri
    for pre in ("file://", "file:"):
        if p.startswith(pre):
            p = p[len(pre):]
            break
    if not p.startswith("/"):
        p = "/" + p
    return abs_to_listed[os.path.abspath(unquote(p))]


def _collect_file_stats(spark: SparkSession, path: str, files: list[str],
                        stats_cols: list[str]) -> dict:
    df = _scan(spark, path, files)
    present = [c for c in stats_cols if c in df.columns]
    if not present:
        return {}
    aggs = []
    for c in present:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("f")).agg(*aggs).collect()
    )
    abs_to_listed = _abs_to_listed_map(path, files)
    out = {}
    for r in rows:
        rel = _listed_name_of_uri(r["f"], abs_to_listed)
        out[rel] = {
            c: [_json_scalar(r[f"_mn_{c}"]), _json_scalar(r[f"_mx_{c}"])]
            for c in present
        }
    return out


def file_stats_at(path: str, version: int) -> dict:
    """Replay the log through `version` → per-file stats for that
    snapshot's surviving files."""
    return snapshot(path, version).stats


def _stats_may_match(file_stats: dict | None, stats_filter: dict) -> bool:
    """True unless the recorded [min, max] of some filtered column
    provably misses the requested [lo, hi] interval. Missing stats,
    NULL bounds, or a type mismatch keep the file (sound skipping)."""
    if not file_stats:
        return True
    for c, bounds in stats_filter.items():
        if c not in file_stats:
            continue
        mn, mx = file_stats[c]
        lo, hi = bounds
        lo, hi = _json_scalar(lo), _json_scalar(hi)
        try:
            if lo is not None and mx is not None and mx < lo:
                return False
            if hi is not None and mn is not None and mn > hi:
                return False
        except TypeError:
            continue  # incomparable types → keep
    return True


# ------------------------------------------------- generated columns
#
# GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS (expr)`), built for
# the one pattern that matters at 100 TB: a fact table partitioned by
# a DERIVED time grain (`event_date = to_date(ts)`). The generation
# expression is table metadata (`"generated": {col: expr}` in the
# log); every writer RECOMPUTES the column from its expression before
# writing (table_init, both merge legs, update_where, OPTIMIZE), so
# change relations never need to carry it, it can never drift from
# its source, and an update that moves the source value migrates the
# row to its new partition. `generated_partition_filter` then turns
# a SOURCE-column range predicate into a partition filter — the
# automatic partition pruning Delta derives for date-truncation
# generation expressions.


def table_generated_cols(path: str) -> dict:
    """{col: generation SQL expr} recorded at init / re-emitted by
    checkpoint and clone ({} when none)."""
    return snapshot(path, bulk=()).generated


def _apply_generated(df: DataFrame, generated: dict) -> DataFrame:
    """Recompute every generated column from its expression —
    GENERATED ALWAYS semantics: the stored value is definitionally
    the expression's value, so writers overwrite whatever the change
    relation carried (or didn't)."""
    for c, expr in generated.items():
        df = df.withColumn(c, F.expr(expr))
    return df


def generated_partition_filter(spark: SparkSession, path: str, pcol: str,
                               source_col: str, lo, hi,
                               version: int | None = None) -> dict:
    """Derive the partition filter a SOURCE-column range predicate
    implies through a generated partition column: evaluate the
    generation expression on the two bounds (a 2-row job, no table
    data), then keep the LOGGED partition values inside [f(lo),
    f(hi)] — sound exactly when the expression is MONOTONE
    non-decreasing in the source column and its string/path encoding
    preserves that order (true for the date-truncation family:
    to_date, date_trunc, year/month/day prefixes in ISO form).
    Returns {pcol: [values]} for read_version(partition_filter=);
    the caller still applies the real source predicate. Pass
    `version` when the subsequent read is time travel — the keep-set
    comes from THAT version's logged partition values (the current
    version's values would wrongly prune partitions removed since)."""
    s = snapshot(path, version, bulk=())
    if pcol not in s.generated:
        raise ValueError(f"{pcol!r} is not a generated column of {path}")
    if pcol not in s.pby:
        raise ValueError(f"{pcol!r} is not a partition column of {path}")
    bdf = spark.createDataFrame([(lo,), (hi,)], [source_col])
    vals = [str(r.v) for r in bdf.select(F.expr(s.generated[pcol]).alias("v")).collect()]
    f_lo, f_hi = min(vals), max(vals)
    v = s.version
    # enumerate logged partition values through the manifest when one
    # is fresh: distinct p_<pcol> within [f_lo, f_hi] is a pushed
    # filter + distinct whose collect is bounded by SURVIVING values —
    # not a driver loop over every file name (VERDICT r6 #6)
    try:
        from bigdata06_spark import lakehouse_manifest as M

        meta = M.manifest_meta(path)
        if meta is not None and meta["version"] == v:
            pc = F.col(f"p_{pcol}")
            keep = sorted(
                r[0] for r in M.manifest_df(spark, path)
                .filter(pc.isNotNull() & (pc >= f_lo) & (pc <= f_hi))
                .select(pc).distinct().collect()
            )
            return {pcol: keep}
    except Exception:
        pass  # derived-cache failure → sound fallback below
    logged: set[str] = set()
    for f in files_at_version(path, v):
        pv = _pvals_of_rel(f).get(pcol)
        if pv is not None:
            logged.add(pv)
    keep = sorted(v for v in logged if f_lo <= v <= f_hi)
    return {pcol: keep}


# ------------------------------------------------- identity columns
#
# IDENTITY COLUMNS (Delta's `GENERATED ALWAYS AS IDENTITY`): the
# table allocates surrogate keys itself — writers may never supply
# the column (loud error, exactly Delta's ALWAYS semantics), insert
# legs assign `high + step·row_number(ORDER BY key)` and the commit
# entry advances the high watermark, so ids are unique and increasing
# across the table's whole history, including through OCC retries
# (a losing writer re-reads the newer high before its retry, and a
# stale allocation can never become visible because the log commit
# itself is the atomic create-if-absent). Within one batch the
# ordering is by the table key, which makes assignment DETERMINISTIC
# — testable against a row_number() oracle. Allocation is two passes
# over the INSERT BATCH (never the table) with per-bin windows only —
# see `_assign_identity`; at real scale writers would additionally
# reserve per-partition id ranges off the same watermark (Delta
# reserves ranges per transaction the same way).


def table_identity(path: str) -> dict | None:
    """Latest identity state {"col", "start", "step", "high"}, or
    None. The most recent entry carrying the key wins (each
    allocating commit re-emits it with the advanced watermark)."""
    return snapshot(path, bulk=()).identity


def _assign_identity(df: DataFrame, ident: dict, key: str) -> DataFrame:
    """Allocate `high + step·rank(key)` ids WITHOUT a global window.

    Two passes, deterministic: (1) sample up to 1024 key values (a
    hash-ordered limit — one parallel TakeOrdered pass, no full sort)
    whose sorted distinct values become range-bin edges, embedded as
    literals; (2) count rows per bin → cumulative offsets on the
    driver (≤1025 numbers); the id is offset[bin] + row_number() over
    a PER-BIN window. Every window has a partition key, so a large
    backfill parallelizes across ~1k bins instead of serializing the
    whole batch through one task (the old no-partition row_number).
    Edges are literals, so recomputation cannot move a row between
    bins, and the total order (bin, key) equals the old global ORDER
    BY key — same deterministic key-ordered allocation contract."""
    from pyspark.sql.window import Window

    from bigdata06_spark.sinks import range_bin_expr

    edges = sorted({
        r[0]
        for r in df.select(key).where(F.col(key).isNotNull())
        .orderBy(F.xxhash64(F.col(key))).limit(1024).collect()
    })
    # bin = #edges <= key, codegen'd binary search; NULL keys → bin 0
    # (NULLS FIRST, the same placement the old global window gave)
    bin_ = range_bin_expr(edges, F.col(key)) if edges else F.lit(0)
    b = df.withColumn("_ibin", bin_)
    counts = {
        r["_ibin"]: r["n"]
        for r in b.groupBy("_ibin").agg(F.count("*").alias("n")).collect()
    }
    acc = 0
    pairs: list = []
    for i in sorted(counts):
        pairs += [F.lit(i), F.lit(acc)]
        acc += counts[i]
    om = F.create_map(*pairs) if pairs else F.create_map(F.lit(0), F.lit(0))
    rn = F.row_number().over(Window.partitionBy("_ibin").orderBy(F.col(key)))
    return b.withColumn(
        ident["col"],
        (F.lit(ident["high"])
         + F.lit(ident["step"]) * (om[F.col("_ibin")] + rn)).cast("long"),
    ).drop("_ibin")


def _reject_identity_col(ident: dict | None, rels: list, what: str) -> None:
    if not ident:
        return
    for rel in rels:
        if rel is not None and ident["col"] in rel.columns:
            raise ValueError(
                f"{ident['col']!r} is GENERATED ALWAYS AS IDENTITY; "
                f"{what} may not supply it — the table allocates it"
            )


# ------------------------------------------------- bloom-filter skipping
#
# Per-file BLOOM FILTERS for equality lookups on high-cardinality
# NON-key columns (Delta's BLOOMFILTER INDEX / Parquet's bloom
# pages): [min, max] stats prune range predicates on clustered
# columns, but a point lookup on a column with no sort order (find
# one customer's orders in a key-range-bucketed orders table) matches
# every file's range. A k-hash bloom over the column's values in
# each file answers "definitely absent" from the LOG alone — the
# planner drops the file without touching it. Sound by construction:
# a missing bloom, a NULL lookup value, or any set-bit uncertainty
# keeps the file; only a provably-absent value prunes.
#
# Hashing: xxhash64(value-cast-to-string, seed i) mod m, JVM-side on
# collection (whole-stage codegen over the just-written files) and a
# 1-row job at lookup so both sides use the SAME hash — the string
# canonicalization makes the lookup independent of integer width.
# Sizing: m bits / k hashes per (file, column), default 16384/4 —
# 2 KiB of log per file per column, the same order as Delta's
# default bloom index, FPR < 3% at 2k distinct values per file.


def table_bloom_meta(path: str) -> dict | None:
    """{"cols": [...], "bits": m, "hashes": k} recorded at init /
    re-emitted by checkpoint and clone, or None."""
    return snapshot(path, bulk=()).bloom


def _bloom_position_cols(col, m: int, k: int) -> list:
    return [
        F.pmod(F.xxhash64(col.cast("string"), F.lit(i)), F.lit(m))
        for i in range(k)
    ]


def _collect_file_blooms(spark: SparkSession, path: str, files: list[str],
                         bloom: dict) -> dict:
    """Per-file bloom bitmaps for the configured columns over the
    just-written `files`: one distributed pass per column (explode k
    positions → collect_set per file — bounded by m per file), the
    driver packs each set into a base64 bitmap. NULLs set no bits
    (a NULL lookup keeps every file instead)."""
    import base64

    cols, m, k = bloom["cols"], bloom["bits"], bloom["hashes"]
    # resolve scanner URIs through the shared map (see
    # _listed_name_of_uri: the pre-r9 suffix surgery here missed the
    # percent-unescape, so escaped-partition blooms were recorded
    # under names no reader ever looked up — sound but silently
    # unpruned, found by the parquet-vs-JSON checkpoint equivalence
    # test)
    abs_to_listed = _abs_to_listed_map(path, files)
    df = _scan(spark, path, files)
    present = [c for c in cols if c in df.columns]
    out: dict = {}
    for c in present:
        rows = (
            df.filter(F.col(c).isNotNull())
            .select(
                F.col("_metadata.file_path").alias("f"),
                F.explode(F.array(*_bloom_position_cols(F.col(c), m, k))).alias("p"),
            )
            .groupBy("f")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )
        for r in rows:
            rel = _listed_name_of_uri(r["f"], abs_to_listed)
            bits = bytearray(m // 8)
            for pos in r["ps"]:
                bits[pos // 8] |= 1 << (pos % 8)
            out.setdefault(rel, {})[c] = base64.b64encode(bytes(bits)).decode()
    return out


def _bloom_lookup_positions(spark: SparkSession, bloom_filter: dict,
                            bloom: dict) -> dict:
    """The k bit positions of each looked-up value — computed by the
    SAME JVM expression the collection side used (one 1-row job, no
    table data touched)."""
    m, k = bloom["bits"], bloom["hashes"]
    vals = {
        c: v for c, v in bloom_filter.items()
        if v is not None and c in bloom["cols"]
    }
    if not vals:
        return {}
    types = bloom.get("types", {})
    exprs = []
    for c, v in vals.items():
        lit = F.lit(v)
        if c in types:
            lit = lit.cast(types[c])
        for i, pc in enumerate(_bloom_position_cols(lit, m, k)):
            exprs.append(pc.alias(f"{c}__{i}"))
    row = spark.range(1).select(*exprs).first()
    return {c: [row[f"{c}__{i}"] for i in range(k)] for c in vals}


def _bloom_may_match(file_blooms: dict | None, positions: dict) -> bool:
    """True unless some looked-up value's k bits are provably not all
    set in the file's bloom. Missing blooms keep the file (sound)."""
    import base64

    if not file_blooms:
        return True
    for c, pos in positions.items():
        b64 = file_blooms.get(c)
        if b64 is None:
            continue
        bits = base64.b64decode(b64)
        if not all(bits[p // 8] & (1 << (p % 8)) for p in pos):
            return False
    return True


def _entry_stats_blooms(spark: SparkSession, path: str, adds: list[str],
                        s: Snapshot) -> dict:
    """The per-file stats + bloom additions every file-adding commit
    records (merge legs, OPTIMIZE, MOR appends), per the specs of the
    writer's snapshot `s`."""
    out: dict = {}
    if not adds:
        return out
    if s.scols:
        out["stats"] = _collect_file_stats(spark, path, adds, s.scols)
    if s.bloom:
        out["blooms"] = _collect_file_blooms(spark, path, adds, s.bloom)
    return out


def _matches_partition(rel_path: str, partition_filter: dict,
                       missing: str = "raise") -> bool:
    """Does a file's path-encoded partition values satisfy the filter?

    `missing` is the policy for a file carrying NO recorded value for
    a filtered column (e.g. a CONVERT-adopted layout): "keep" keeps
    the file (the READ-side soundness rule — mirrors the manifest
    planner's _prune_expr, so replay and manifest plans agree on the
    same snapshot; advisor r7), "raise" stays loud (the DML target-
    selection sites, where silently including or excluding an
    unprovable file would rewrite or drop data)."""
    vals = _pvals_of_rel(rel_path)
    for k, want in partition_filter.items():
        if k not in vals:
            if missing == "keep":
                continue
            raise ValueError(
                f"file {rel_path} carries no partition value for {k!r}; "
                f"the table is not partitioned by it"
            )
        allowed = want if isinstance(want, (list, tuple, set, frozenset)) else [want]
        if vals[k] not in {str(w) for w in allowed}:
            return False
    return True


#: merge partition-confinement cap: the largest distinct-partition set
#: a change relation may pull to the driver before confinement is
#: skipped as not worth its metadata cost (the key-range prune alone
#: is already sound).
_PART_CONFINE_CAP = 10_000


def _new_sub(version: int) -> str:
    # per-ATTEMPT unique data subdirectory: concurrent writers for the
    # same target version never touch each other's files; only the log
    # commit (atomic) decides whose become visible
    return f"v{version}-{uuid.uuid4().hex[:8]}"


def _sub_version(subdir: str) -> int | None:
    """Target version encoded in a data subdirectory name
    (`v<N>-<attempt>`), or None for non-standard names. Vacuum uses
    this to recognize in-flight writers' attempt directories."""
    if not subdir.startswith("v"):
        return None
    head = subdir[1:].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def current_version(path: str) -> int:
    try:
        versions = [
            int(f.split(".")[0]) for f in os.listdir(_log_dir(path)) if f.endswith(".json")
        ]
    except FileNotFoundError:
        return -1
    return max(versions, default=-1)


# ------------------------------------------------------ the log fold
#
# A table's state at version N is the fold of `_step` over log entries
# 0..N (Delta Lake's log-replay definition). `_step` is the ONLY code
# that interprets replay keys: a new per-entry log key is taught there
# once, and every reader (the accessors below, the writers, the
# manifest rebuild, checkpoint_log, the DataSource) sees it.


@dataclass
class Snapshot:
    """Table state at `version` (-1: no table). Per-file fields —
    `files` (a set), `dvs` ({data file → [dv files]}), `stats`,
    `blooms` — are None when the snapshot was taken with `bulk=()`.
    The table specs (`pby`, `scols`, `bloom`, `generated`) and the
    `identity` / `zorder` state are LATEST-scoped: they also see the
    entries after `version` (the contract of the spec lookups —
    identity allocation and the clustering grid always read the
    newest state)."""
    version: int = -1
    files: set | None = field(default_factory=set)
    dvs: dict | None = field(default_factory=dict)
    stats: dict | None = field(default_factory=dict)
    blooms: dict | None = field(default_factory=dict)
    pby: list | None = None
    scols: list | None = None
    bloom: dict | None = None
    generated: dict | None = None
    identity: dict | None = None
    zorder: dict | None = None
    base_cols: list | None = None
    acts: list = field(default_factory=list)
    txns: dict = field(default_factory=dict)
    copy_sources: set = field(default_factory=set)
    constraints: dict = field(default_factory=dict)

    @property
    def logical_cols(self) -> list[str] | None:
        return _logical_cols(self.base_cols, self.acts)


#: Snapshot fields folded over the WHOLE log, not just 0..version
_LATEST_SCOPED = ("pby", "scols", "bloom", "generated", "identity", "zorder")


def _step(s: Snapshot, e: dict) -> None:
    """Apply ONE log entry to `s`. Rules:

    - specs: the first entry carrying `partition_by` / `stats_cols` /
      `bloom` / `generated` wins (recorded at init, re-emitted verbatim
      by checkpoint and clone); the last `identity` / `zorder` /
      `schema_cols` wins (each allocating or clustering commit
      re-emits its advanced state).
    - a checkpoint entry RESETS the file set, DV map, stats, blooms
      and CHECK constraints to what it carries and max-merges its
      `txns` ledger.
    - otherwise a `remove` drops the file with its DVs, stats and
      blooms (a rewrite applied the DVs, so they are spent); `add`
      files and their stats/blooms join; `dv_add` appends to each
      affected LIVE file's DV list; `dvs_set` (RESTORE) pins the whole
      DV map (the add/remove lists already pinned the file set).
    - `txn` raises its app's ledger high; `copy_sources` accumulate;
      `constraint_add` / `constraint_drop` edit the CHECK set.
    - `schema_actions_set` (RESTORE/clone/checkpoint) and the legacy
      `schema_set` (adds only) pin the ordered schema-action list;
      `schema_adds`, `schema_add`, `schema_rename`, `schema_drop`
      append to it, in that order."""
    if s.pby is None and "partition_by" in e:
        s.pby = list(e["partition_by"])
    if s.scols is None and "stats_cols" in e:
        s.scols = list(e["stats_cols"])
    if s.bloom is None and "bloom" in e:
        s.bloom = dict(e["bloom"])
    if s.generated is None and "generated" in e:
        s.generated = dict(e["generated"])
    if "identity" in e:
        s.identity = dict(e["identity"])
    if "zorder" in e:
        s.zorder = dict(e["zorder"])
    if "schema_cols" in e:
        s.base_cols = list(e["schema_cols"])
    if e.get("checkpoint"):
        s.files = set(e.get("add", []))
        s.dvs = {f: list(d) for f, d in e.get("dvs", {}).items()}
        s.stats = dict(e.get("stats", {}))
        s.blooms = dict(e.get("blooms", {}))
        s.constraints = dict(e.get("constraints", {}))
        for app, n in e.get("txns", {}).items():
            s.txns[app] = max(s.txns.get(app, -1), int(n))
    else:
        for f in e.get("remove", []):
            s.files.discard(f)
            s.dvs.pop(f, None)
            s.stats.pop(f, None)
            s.blooms.pop(f, None)
        s.files.update(e.get("add", []))
        s.stats.update(e.get("stats", {}))
        s.blooms.update(e.get("blooms", {}))
        da = e.get("dv_add")
        if da:
            for f in da["files"]:
                if f in s.files:
                    s.dvs.setdefault(f, []).extend(da["dv"])
        if "dvs_set" in e:
            s.dvs = {f: list(d) for f, d in e["dvs_set"].items()}
    t = e.get("txn")
    if t:
        s.txns[t["app"]] = max(s.txns.get(t["app"], -1), int(t["version"]))
    s.copy_sources.update(e.get("copy_sources", []))
    ca = e.get("constraint_add")
    if ca:
        s.constraints[ca["name"]] = ca["expr"]
    if e.get("constraint_drop"):
        s.constraints.pop(e["constraint_drop"], None)
    if "schema_actions_set" in e:
        s.acts = [dict(a) for a in e["schema_actions_set"]]
    elif "schema_set" in e:
        s.acts = [{"kind": "add", "column": a["column"], "type": a["type"]}
                  for a in e["schema_set"]]
    adds = list(e.get("schema_adds", []))
    if e.get("schema_add"):
        adds.append(e["schema_add"])
    s.acts += [dict(a, kind="add") for a in adds]
    rn = e.get("schema_rename")
    if rn:
        s.acts.append({"kind": "rename", "from": rn["from"], "to": rn["to"]})
    if e.get("schema_drop"):
        s.acts.append({"kind": "drop", "column": e["schema_drop"]["column"]})


def _advance(path: str, s: Snapshot, to: int,
             bulk: tuple[str, ...] = _CKPT_BULK) -> Snapshot:
    """Fold the surviving entries after `s.version` through `to` into
    `s` (versions squashed away by checkpoint_log skip). Advancing a
    `snapshot` result leaves its `identity` / `zorder` at the last
    value seen through `to`, not the latest: multi-version readers
    (restore, vacuum, the change feeds) read only the version-scoped
    fields after advancing."""
    for v in range(s.version + 1, to + 1):
        entry = _read_entry(path, v, bulk)
        if entry is not None:
            _step(s, entry)
    s.version = to
    return s


def snapshot(path: str, version: int | None = None,
             bulk: tuple[str, ...] = _CKPT_BULK) -> Snapshot:
    """The table's state at `version` (latest when None; a missing
    table is the empty snapshot at -1): `_step` folded over the log.
    `bulk` names the per-file keys a parquet checkpoint hydrates
    (`_read_entry`); metadata-only callers pass () and get None
    per-file fields without paying the sidecar read. One call per
    operation: a writer takes one snapshot and reads every field it
    needs from it."""
    latest = current_version(path)
    if version is not None and not 0 <= version <= latest:
        raise ValueError(f"version {version} not in [0, {latest}]")
    v = latest if version is None else version
    s = _advance(path, Snapshot(), v, bulk)
    # the latest-scoped fields also fold the entries after `version`:
    # one more run of the same step (no extra parse when v is latest)
    tail = Snapshot(version=v, **{k: getattr(s, k) for k in _LATEST_SCOPED})
    _advance(path, tail, latest, ())
    for k in _LATEST_SCOPED:
        setattr(s, k, getattr(tail, k))
    s.pby, s.scols, s.generated = s.pby or [], s.scols or [], s.generated or {}
    if not bulk:
        s.files = s.dvs = s.stats = s.blooms = None
    return s


def files_at_version(path: str, version: int) -> list[str]:
    """Replay the log through `version` → that snapshot's file set."""
    return sorted(snapshot(path, version).files)


def dvs_at_version(path: str, version: int) -> dict[str, list[str]]:
    """The deletion-vector map ({data file → [dv files]}) in force at
    `version`."""
    return snapshot(path, version).dvs


def version_at_timestamp(path: str, ts: float) -> int:
    """TIMESTAMP AS OF: the latest version whose commit wall clock is
    ≤ `ts` (every commit records `ts` in its log entry). Versions
    squashed by `checkpoint_log` resolve to the checkpoint's own
    commit time (their history is gone by design). Raises if `ts`
    predates the earliest surviving commit — same contract as Delta's
    timestamp travel outside the retained window."""
    latest = current_version(path)
    if latest < 0:
        raise ValueError(f"no lakehouse table at {path}")
    best = None
    for v in range(latest + 1):
        lp = os.path.join(_log_dir(path), f"{v}.json")
        entry = _read_entry(path, v, bulk=())
        if entry is None:
            continue
        cts = entry.get("ts", os.path.getmtime(lp))
        if cts <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the earliest surviving commit of {path}"
        )
    return best


# ---------------------------------------------------- CHECK constraints


class ConstraintViolationError(ValueError):
    """A CHECK constraint rejected rows a writer was about to commit
    (or, for add_constraint, rows already in the table). The commit
    never happens; already-written attempt files are unreferenced
    orphans that vacuum reclaims."""


def table_constraints(path: str, version: int | None = None) -> dict[str, str]:
    """The CHECK constraints ({name: SQL boolean expr}) in force at
    `version` (default: current). Constraints are log entries
    (`constraint_add`/`constraint_drop`), replayed like every other
    piece of table state; `checkpoint_log` re-emits the live set."""
    return snapshot(path, version, bulk=()).constraints


def _validate_constraints(df: DataFrame, constraints: dict[str, str],
                          what: str) -> None:
    """One pass over the rows about to be written: count violations of
    every constraint (SQL semantics: NULL passes, only FALSE
    violates). Raises ConstraintViolationError naming the constraint
    and its count — BEFORE any log commit, so a rejected write leaves
    only vacuum-able orphans, never a bad version."""
    if not constraints:
        return
    names = list(constraints)
    row = df.agg(
        *[
            F.sum(
                (~F.coalesce(F.expr(constraints[n]), F.lit(True))).cast("long")
            ).alias(n)
            for n in names
        ]
    ).first()
    bad = {n: row[n] for n in names if row[n]}
    if bad:
        raise ConstraintViolationError(
            f"{what} violates CHECK constraint(s) {bad} "
            f"({ {n: constraints[n] for n in bad} })"
        )


def add_constraint(spark: SparkSession, path: str, name: str,
                   expr: str) -> int:
    """ADD a CHECK constraint as a metadata-only version. Existing
    rows are validated FIRST (Delta's ADD CONSTRAINT contract: the
    constraint must already hold); every subsequent writer (merge
    legs, update_where) validates the rows it is about to write —
    cost is one aggregate over the WRITTEN rows, never the table."""
    prev_v = current_version(path)
    if prev_v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    _validate_constraints(
        read_version(spark, path, prev_v), {name: expr}, "existing table data"
    )
    new_v = prev_v + 1
    _commit_log(
        path, new_v,
        {"add": [], "remove": [], "op": "ADD CONSTRAINT",
         "constraint_add": {"name": name, "expr": expr}},
    )
    return new_v


def restore(path: str, to_version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF (Delta's RESTORE): roll the
    table back to `to_version`'s exact state AS A NEW COMMIT — the
    file set, deletion-vector map, and schema all pin to the old
    snapshot, but history is preserved (the bad versions remain
    time-travelable until vacuum; an audit sees the mistake AND the
    rollback). Metadata-only: no data moves; the entry lists the old
    snapshot's files as adds and the current extras as removes, and
    pins the DV map via `dvs_set`. Constraints are unaffected (they
    are rules, not data). Returns the new version."""
    prev_v = current_version(path)
    s = snapshot(path, to_version)
    old_files = set(s.files)
    if not old_files:
        raise ValueError(f"version {to_version} of {path} has no files")
    old_dvs = {f: list(d) for f, d in s.dvs.items()}
    old_acts = list(s.acts)
    cur_files = _advance(path, s, prev_v).files
    entry: dict = {
        "add": sorted(old_files - cur_files),
        "remove": sorted(cur_files - old_files),
        "dvs_set": old_dvs,
        "restore_of": to_version,
        # schema pins too: re-emit the OLD version's full schema-action
        # history so a restore past an add_column drops the column
        # again, and past a rename/drop reverts the mapping
        "schema_actions_set": old_acts,
    }
    entry.update(_entry_partition_meta(entry["add"]))
    entry["op"] = "RESTORE"
    new_v = prev_v + 1
    _commit_log(path, new_v, entry)
    return new_v


def clone(src: str, dst: str, version: int | None = None) -> None:
    """SHALLOW CLONE (Delta's CLONE): create a NEW table at `dst`
    whose version 0 is a checkpoint entry listing the SOURCE's files
    by absolute path — zero data copied, O(files) metadata. The clone
    then diverges independently: its writers add files under its own
    `data/`, its COW rewrites REPLACE source-file references with
    native files (never touching the source), and its vacuum walks
    only its own directory, so it can never delete source data. DV
    map, schema adds, partition spec + per-file values, per-file
    stats, and CHECK constraints all carry over.

    The dev/test/experiment pattern at 100 TB: branch a production
    table in milliseconds, run a destructive migration against the
    clone, throw it away. Caveat (same as Delta's): VACUUM ON THE
    SOURCE can reclaim files the clone still references — clones are
    working copies inside the source's retention window, not
    backups."""
    v = current_version(src) if version is None else version
    if v < 0:
        raise ValueError(f"no lakehouse table at {src}")
    if current_version(dst) >= 0:
        raise ValueError(f"{dst} already has a lakehouse table")
    s = snapshot(src, v)
    files, dvs = sorted(s.files), s.dvs

    def absf(f: str) -> str:
        return f if os.path.isabs(f) else os.path.abspath(os.path.join(src, f))

    add = [absf(f) for f in files]
    entry: dict = {
        "add": add,
        "remove": [],
        "checkpoint": True,
        "ts": time.time(),
        "cloned_from": {"path": os.path.abspath(src), "version": v},
        # the full action history (adds, renames, drops) carries over:
        # the clone's zero-copy source files need the same replay
        "schema_actions_set": s.acts,
    }
    if s.base_cols:
        entry["schema_cols"] = s.base_cols
    if dvs:
        # Deletion-vector position files are MATERIALIZED into the
        # clone (data files stay zero-copy): their `file` column
        # stores names AS LISTED IN THE SOURCE log, which the clone —
        # listing by absolute path — could not match. Rewriting the
        # positions to absolute names costs O(deleted rows), the same
        # order as the clone's metadata itself.
        import pyarrow as pa
        import pyarrow.parquet as pq

        sub = _new_sub(0) + "dv"
        outdir = os.path.join(dst, _DATA, sub)
        os.makedirs(outdir, exist_ok=True)
        uniq = sorted({d for lst in dvs.values() for d in lst})
        tables = []
        for d in uniq:
            t = pq.read_table(absf(d), columns=["file", "row_index"])
            tables.append(
                pa.table(
                    {
                        "file": pa.array(
                            [absf(x) for x in t.column("file").to_pylist()],
                            pa.string(),
                        ),
                        "row_index": t.column("row_index").combine_chunks(),
                    }
                )
            )
        dv_path = os.path.join(outdir, "part-clone-dv.parquet")
        pq.write_table(pa.concat_tables(tables), dv_path)
        rel_dv = os.path.relpath(dv_path, dst)
        entry["dvs"] = {absf(f): [rel_dv] for f in dvs}
    if s.pby:
        entry["partition_by"] = s.pby
        entry.update(_entry_partition_meta(add))
    if s.scols:
        entry["stats_cols"] = s.scols
        entry["stats"] = {absf(f): st for f, st in s.stats.items() if f in s.files}
    if s.bloom:
        entry["bloom"] = s.bloom
        entry["blooms"] = {absf(f): b for f, b in s.blooms.items() if f in s.files}
    if s.generated:
        entry["generated"] = s.generated
    if s.identity:
        entry["identity"] = s.identity
    if s.constraints:
        entry["constraints"] = s.constraints
    entry["op"] = "CLONE"
    os.makedirs(os.path.join(dst, _DATA), exist_ok=True)
    _commit_log(dst, 0, entry)


def drop_constraint(path: str, name: str) -> int:
    """DROP a CHECK constraint (metadata-only version)."""
    s = snapshot(path, bulk=())
    if name not in s.constraints:
        raise ValueError(f"no constraint {name!r} on {path}")
    new_v = s.version + 1
    _commit_log(path, new_v, {"add": [], "remove": [],
                              "op": "DROP CONSTRAINT",
                              "constraint_drop": name})
    return new_v


def table_init(df: DataFrame, path: str, key: str, n_files: int = 8,
               partition_by: list[str] | None = None,
               stats_cols: list[str] | None = None,
               bloom_cols: list[str] | None = None,
               bloom_bits: int = 16384, bloom_hashes: int = 4,
               generated_cols: dict | None = None,
               identity_col: str | None = None,
               identity_start: int = 1, identity_step: int = 1) -> None:
    """Version 0: range-bucket + sort on `key` so every data file
    covers a narrow, non-overlapping key range (parquet min/max stats
    make the COW planner exact). With `partition_by`, files land in
    Hive-style `col=val` directories, the log records the partition
    spec and per-file partition values, and reads/merges prune on
    them (see the partition-columns comment above). With
    `stats_cols`, every commit records per-file [min, max] for those
    columns and `read_version(stats_filter=...)` skips files at the
    planner (see the data-skipping comment above). With `bloom_cols`,
    every commit additionally records a per-file bloom filter
    (`bloom_bits` bits, `bloom_hashes` hashes) and
    `read_version(bloom_filter={col: value})` skips files that
    provably don't contain the value — the point-lookup axis for
    columns with no sort order (see the bloom comment above). With
    `generated_cols` ({col: SQL expr}), the columns are COMPUTED from
    their expressions here and recomputed by every writer (GENERATED
    ALWAYS — see the generated-columns comment above); name one in
    `partition_by` to get derived-time-grain partitioning. With
    `identity_col`, the table allocates that surrogate-key column
    itself (GENERATED ALWAYS AS IDENTITY — see the identity comment
    above); the source frame must not carry it."""
    if generated_cols:
        df = _apply_generated(df, dict(generated_cols))
    ident = None
    if identity_col:
        if identity_col in df.columns:
            raise ValueError(
                f"{identity_col!r} is GENERATED ALWAYS AS IDENTITY; the "
                "initial frame may not supply it"
            )
        if identity_col == key:
            raise ValueError(
                "the identity column cannot be the merge key: change "
                "relations address rows BY the key, which GENERATED "
                "ALWAYS forbids them to carry — key on the business key"
            )
        n0 = df.count()
        ident = {"col": identity_col, "start": identity_start,
                 "step": identity_step,
                 "high": identity_start - identity_step}
        df = _assign_identity(df, ident, key)
        ident["high"] = identity_start + identity_step * (n0 - 1) if n0 else \
            identity_start - identity_step
    sub = _new_sub(0)
    out = os.path.join(path, _DATA, sub)
    if partition_by:
        _write_partitioned(df, out, key, n_files, list(partition_by))
    else:
        (
            df.repartitionByRange(n_files, F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(out)
        )
    files = _list_data_files(path, sub)
    entry: dict = {"add": files, "remove": []}
    # declared base column order: the anchor the schema-action replay
    # reorders mixed-vintage scans to (see _logical_cols)
    entry["schema_cols"] = list(df.columns)
    if partition_by:
        entry["partition_by"] = list(partition_by)
    entry.update(_entry_partition_meta(files))
    if stats_cols:
        entry["stats_cols"] = list(stats_cols)
        entry["stats"] = _collect_file_stats(
            df.sparkSession, path, files, list(stats_cols)
        )
    if bloom_cols:
        # the per-column NATIVE type travels with the spec: lookups
        # cast the probe value through it before the string
        # canonicalization, so bloom_filter={"amount": 5} probes the
        # same bits a stored 5.0 set (int-vs-float string forms
        # differ; hashing the column-typed rendering restores the
        # sound-pruning contract)
        dtypes = dict(df.dtypes)
        bloom = {"cols": list(bloom_cols), "bits": bloom_bits,
                 "hashes": bloom_hashes,
                 "types": {c: dtypes[c] for c in bloom_cols if c in dtypes}}
        entry["bloom"] = bloom
        entry["blooms"] = _collect_file_blooms(
            df.sparkSession, path, files, bloom
        )
    if generated_cols:
        entry["generated"] = dict(generated_cols)
    if ident:
        entry["identity"] = ident
    entry["op"] = "WRITE"
    _commit_log(path, 0, entry)


def append(spark: SparkSession, path: str, key: str, df: DataFrame,
           n_files: int = 1, extra_entry: dict | None = None) -> int:
    """Blind APPEND as a version (SQL INSERT INTO's engine): new
    range-sorted files only, nothing rewritten, duplicates allowed —
    key-dedup is merge's job. Unlike the session-less DataSource
    writer, this maintains EVERY table invariant: generated columns
    recompute, identity ids allocate from the watermark, CHECK
    constraints validate, partitioned tables dir-route, and the
    commit records the new files' stats/blooms. Returns the new
    version (or the current one for an empty batch)."""
    return _append(spark, path, key, df, n_files, extra_entry,
                   snapshot(path, bulk=()))


def _append(spark: SparkSession, path: str, key: str, df: DataFrame,
            n_files: int, extra_entry: dict | None, s: Snapshot) -> int:
    """`append` against the snapshot `s` the caller took; the commit
    targets `s.version + 1`."""
    prev_v = s.version
    if prev_v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    ident = s.identity
    _reject_identity_col(ident, [df], "append")
    clash = sorted(set(df.columns) & _retired_names(s.acts))
    if clash:
        raise ValueError(
            f"columns {clash} were retired by an earlier rename/drop; "
            "appending them would resurrect stale data"
        )
    df = _apply_generated(df, s.generated)
    n_new = 0
    if ident:
        n_new = df.count()
        if not n_new:
            return prev_v
        df = _assign_identity(df, ident, key)
    _validate_constraints(df, s.constraints, "append")
    new_v = prev_v + 1
    sub = _new_sub(new_v)
    out = os.path.join(path, _DATA, sub)
    if s.pby:
        _write_partitioned(df, out, key, max(1, n_files), s.pby)
    else:
        (
            df.repartitionByRange(max(1, n_files), F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(out)
        )
    files = _list_data_files(path, sub)
    if not files:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        return prev_v
    entry: dict = {"add": files, "remove": [], "op": "APPEND"}
    entry.update(_entry_partition_meta(files))
    entry.update(_entry_stats_blooms(spark, path, files, s))
    if ident and n_new:
        entry["identity"] = {
            **ident, "high": ident["high"] + ident["step"] * n_new,
        }
    if extra_entry:
        entry.update(extra_entry)
    _commit_log(path, new_v, entry)
    return new_v


def table_copy_sources(path: str, version: int | None = None) -> set:
    """The cumulative COPY INTO source-file ledger: every
    `<abs-path>:<size>:<mtime_ns>` tag ever loaded (legacy entries
    may lack the mtime component), replayed from the log
    (checkpoint entries re-emit the whole set, exactly like `txns`).
    What makes re-running the same COPY INTO a no-op."""
    return snapshot(path, version, bulk=()).copy_sources


def copy_into(spark: SparkSession, path: str, key: str, src: str,
              fileformat: str = "parquet") -> tuple[int, int, int]:
    """COPY INTO (Delta's idempotent bulk file load): load every
    source file matching `src` (a directory or a glob) that has NOT
    already been loaded into this table, as one APPEND version whose
    log entry records the newly-loaded files' `<abs-path>:<size>`
    tags. Re-running the same statement loads nothing; adding a file
    to the source directory loads exactly that file. Returns
    (version, files_loaded, rows_loaded).

    Scale shape: the ledger diff is a set difference over file TAGS
    (O(files), metadata only — never data); the data read is
    spark.read over ONLY the new files, so a daily COPY INTO against
    a growing landing dir costs O(new data), not O(directory). The
    ledger itself is O(total files ever loaded) JSON strings — the
    same order as the file list the log already carries."""
    import glob as _glob

    fmt = fileformat.lower()
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(f"unsupported COPY INTO FILEFORMAT {fileformat!r}")
    pattern = src
    if not any(ch in src for ch in "*?["):
        ext = {"parquet": "parquet", "csv": "csv", "json": "json*"}[fmt]
        pattern = os.path.join(src, f"*.{ext}")
    cand = sorted(f for f in _glob.glob(pattern) if os.path.isfile(f))

    def _tag(f: str) -> str:
        # path + size + mtime_ns (Delta keys COPY INTO idempotence on
        # path + modification time): a source file rewritten in place
        # with same-size different content is re-detected as new.
        st = os.stat(f)
        return f"{os.path.abspath(f)}:{st.st_size}:{st.st_mtime_ns}"

    def _legacy_tag(f: str) -> str:
        # pre-mtime ledger entries (<abs-path>:<size>) stay honored so
        # upgrading doesn't re-load every previously-loaded file
        return f"{os.path.abspath(f)}:{os.path.getsize(f)}"

    s = snapshot(path)
    new = [f for f in cand
           if _tag(f) not in s.copy_sources
           and _legacy_tag(f) not in s.copy_sources]
    if not new:
        return s.version, 0, 0
    if fmt == "parquet":
        df = spark.read.parquet(*new)
    elif fmt == "csv":
        df = spark.read.option("header", "true") \
                       .option("inferSchema", "true").csv(new)
    else:
        df = spark.read.json(new)
    cols = set(_read_snapshot(spark, path, s).columns)
    extra = sorted(set(df.columns) - cols)
    if extra:
        raise ValueError(
            f"COPY INTO source has columns {extra} not in the table; "
            "ALTER TABLE ADD COLUMNS first"
        )
    n_rows = df.count()
    v = _append(spark, path, key, df, 1,
                {"copy_sources": sorted(_tag(f) for f in new),
                 "op": "COPY INTO"}, s)
    return v, len(new), n_rows


def convert_to_lakehouse(spark: SparkSession, path: str,
                         stats_cols: list[str] | None = None) -> int:
    """CONVERT TO DELTA equivalent: adopt an existing directory of
    plain parquet files as lakehouse version 0 IN PLACE — zero copy,
    zero rewrite. The log simply lists the directory's `*.parquet`
    files as version 0's file set (the same by-name listing every
    other commit uses; adopted files sit beside `data/`, and later
    merges/OPTIMIZE rewrite them into managed range-bucketed files
    and drop the adopted names from the live set). `stats_cols`
    records per-file [min, max] at conversion so stats skipping works
    from version 0 — one distributed footer-cheap aggregate, still no
    rewrite. This is the onboarding path for a 100 TB raw-parquet
    lake: O(files) metadata, not O(bytes) data movement.

    The adopted layout has whatever clustering the source had — a
    subsequent OPTIMIZE (or key-range merge) is the usual next step,
    exactly like Delta's CONVERT-then-OPTIMIZE runbook."""
    import glob as _glob

    if current_version(path) >= 0:
        raise ValueError(f"{path} is already a lakehouse table")
    # adopted files are listed by ABSOLUTE path — the shallow-CLONE
    # listing convention, so every reader/rewriter resolves them
    # through the same machinery cloned files already use
    files = sorted(
        os.path.abspath(f)
        for f in _glob.glob(os.path.join(path, "*.parquet"))
    )
    if not files:
        raise ValueError(f"no parquet files to adopt in {path}")
    entry: dict = {"add": files, "remove": [], "op": "CONVERT"}
    df = spark.read.parquet(*[os.path.join(path, f) for f in files])
    entry["schema_cols"] = list(df.columns)
    if stats_cols:
        entry["stats_cols"] = list(stats_cols)
        entry["stats"] = _collect_file_stats(spark, path, files,
                                             list(stats_cols))
    _commit_log(path, 0, entry)
    return 0


def _manifest_plan_or_none(spark: SparkSession, path: str, version: int,
                           partition_filter: dict | None = None,
                           stats_filter: dict | None = None,
                           bloom_filter: dict | None = None):
    """(rel_files, dvs) planned RELATIONALLY via the snapshot manifest
    when one is (or can cheaply become) fresh at `version` — the
    default planning path (VERDICT r6 #2: driver JSON-log replay was
    1.85s single-threaded at a 200k-file log vs 0.25s relational; the
    gap widens with file count). Rules:

    - manifest at exactly `version` → plan through it;
    - manifest BEHIND and `version` is the latest → incremental
      refresh first (O(files-changed) fold), then plan — so commits
      stay cheap and the first read after a write pays the fold;
    - no manifest / manifest ahead (time travel behind it) / any
      manifest-layer failure (e.g. read-only filesystem blocking the
      refresh write) → None, caller falls back to log replay. The
      fallback is always SOUND: both paths produce the same snapshot.

    ValueError (unknown partition/stats column) re-raises — the loud
    contract both planners share."""
    try:
        from bigdata06_spark import lakehouse_manifest as M

        meta = M.manifest_meta(path)
        if meta is None:
            return None
        if meta["version"] != version:
            if meta["version"] > version or version != current_version(path):
                return None
            meta = M.refresh_manifest(spark, path, version)
            if meta["version"] != version:
                return None
        pby, scols = M._meta_specs(path, meta)
        if stats_filter and any(c not in scols for c in stats_filter):
            # legacy semantics: a stats filter on an un-statted column
            # silently keeps files — let the replay path handle it
            # rather than plan_files' loud ValueError
            return None
        if bloom_filter and "bloom" not in meta:
            # pre-upgrade manifest meta: it carries no bloom spec (and
            # its parquet no bitmap columns) — the replay path still
            # prunes bloom probes; planning here would silently lose
            # the pruning axis
            return None
        v, files, dvs = M.plan_files(spark, path, partition_filter,
                                     stats_filter, bloom_filter)
        if v != version:
            return None  # lost a race with a concurrent refresh
        return files, dvs
    except ValueError:
        raise  # unknown partition column — loud on both paths
    except Exception:
        return None


def _plan_dml(spark: SparkSession, path: str,
              partition_filter: dict | None, stats_filter: dict | None
              ) -> tuple[Snapshot, list[str], dict[str, list[str]]]:
    """The MOR writers' snapshot and (rel_files, dvs) plan:
    manifest-first like read_version (the snapshot is then
    metadata-only), log replay + driver pruning otherwise. DML keeps
    the replay path's lenient filter semantics (an unmatchable filter
    column keeps files rather than raising), so ValueError from the
    manifest planner falls back instead of propagating."""
    prev_v = current_version(path)
    if prev_v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    try:
        planned = _manifest_plan_or_none(spark, path, prev_v,
                                         partition_filter, stats_filter)
    except ValueError:
        planned = None
    if planned is not None:
        return (snapshot(path, prev_v, bulk=()), *planned)
    s = snapshot(path, prev_v)
    rel_files = _prune_files_for_dml(sorted(s.files), s.stats,
                                     partition_filter, stats_filter)
    return s, rel_files, s.dvs


def read_version(spark: SparkSession, path: str, version: int,
                 partition_filter: dict | None = None,
                 stats_filter: dict | None = None,
                 bloom_filter: dict | None = None,
                 use_manifest: bool = True) -> DataFrame:
    """Version-pinned read. Versions may mix file vintages after
    `add_column` schema evolution, so the scan's schema is the union
    of the files' footer schemas (`_scan`): carried-over files simply
    lack the new column and read as NULL (Delta/Iceberg's
    additive-evolution semantics), and planning starts no Spark job.

    `partition_filter` ({col: value-or-values}) PRUNES AT THE PLANNER:
    only files whose Hive-style partition values match are handed to
    the scanner — the other partitions' files never appear in the
    scan (inputFiles/plan-pinned in tests), the same static partition
    pruning a date-predicate gets on a Hive/Delta table. Values
    compare as their string (path) encoding.

    `stats_filter` ({col: (lo, hi)}, either bound None) additionally
    skips files whose logged [min, max] for the column cannot
    intersect the interval — SOUND pruning only (missing stats keep
    the file); the caller still applies the real row filter.

    `bloom_filter` ({col: value}) skips files whose logged bloom
    filter proves the value absent — the point-lookup axis on
    unsorted high-cardinality columns; same soundness contract
    (missing blooms / NULL values keep the file, the caller still
    applies the real equality filter).

    PLANNING: when a snapshot manifest is fresh (or one incremental
    fold away) at `version`, the file/DV plan comes from the
    relational manifest path — partition and stats pruning run as
    parquet-pushed predicates over the manifest, and bloom probes
    test their k bit positions against the manifest's per-file bitmap
    columns with JVM built-ins (lakehouse_manifest._bloom_prune_expr)
    — instead of a driver pass over the JSON log (the default at
    scale; `use_manifest=False` pins the replay path; manifests
    written before the bitmap columns existed also fall back, so the
    probe never silently loses its pruning axis)."""
    if use_manifest:
        planned = _manifest_plan_or_none(spark, path, version,
                                         partition_filter, stats_filter,
                                         bloom_filter)
        if planned is not None:
            from bigdata06_spark import lakehouse_manifest as M

            return M.read_planned(spark, path, version, *planned)
    return _read_snapshot(spark, path, snapshot(path, version),
                          partition_filter, stats_filter, bloom_filter)


def _read_snapshot(spark: SparkSession, path: str, s: Snapshot,
                   partition_filter: dict | None = None,
                   stats_filter: dict | None = None,
                   bloom_filter: dict | None = None) -> DataFrame:
    """read_version's log-replay path over a snapshot the caller
    already holds (writers read their live rows through it without
    re-walking the log)."""
    rel_files = sorted(s.files)
    if partition_filter:
        # same loud contract as the manifest planner's _prune_expr: an
        # unknown partition COLUMN raises; a file merely MISSING its
        # value (CONVERT-adopted layout) is kept — both paths now
        # agree on the same snapshot (advisor r7)
        unknown = sorted(set(partition_filter) - set(s.pby))
        if unknown:
            raise ValueError(f"table not partitioned by {unknown[0]!r}")
        rel_files = [f for f in rel_files
                     if _matches_partition(f, partition_filter,
                                           missing="keep")]
    if stats_filter:
        rel_files = [
            f for f in rel_files if _stats_may_match(s.stats.get(f), stats_filter)
        ]
    if bloom_filter and s.bloom:
        positions = _bloom_lookup_positions(spark, bloom_filter, s.bloom)
        if positions:
            rel_files = [
                f for f in rel_files
                if _bloom_may_match(s.blooms.get(f), positions)
            ]
    if (partition_filter or stats_filter or bloom_filter) and not rel_files:
        return _read_snapshot(spark, path, s).limit(0)
    df = _scan(spark, path, rel_files)
    # deletion vectors subtract BEFORE the evolved-column fill: the
    # anti-join needs the scan relation's `_metadata`; only DVs of
    # the surviving (pruned) files are loaded
    df = _apply_dvs(spark, path, df, rel_files, _dv_files_for(s.dvs, rel_files))
    return _replay_schema(df, s.acts, s.logical_cols)


# ------------------------------------------------- deletion vectors
#
# MERGE-ON-READ deletes (Delta deletion vectors / Iceberg positional
# delete files): `delete_where` writes a small parquet of
# (file, row_index) positions and commits a version that REWRITES
# NOTHING — the 100 TB point-delete path (GDPR erasure, late-arriving
# retractions), where COW would rewrite every file a scattered key
# set touches. Readers subtract the positions with a broadcast
# left-anti join on (file, row_index), using the parquet scanner's
# own `_metadata.row_index` — no surrogate row ids, no data rewrite.
#
# Life cycle: DVs ACCUMULATE per file across versions; any rewrite of
# the file (MERGE leg, OPTIMIZE) reads it DV-applied and drops the
# spent DV references in the same commit, so compaction is the
# pressure valve that keeps the anti-join side small. Reads at scale:
# the DV relation is bounded by deletes-since-last-compaction, the
# same bound Delta's bitmaps carry; the broadcast stays cheap exactly
# as long as OPTIMIZE runs at the cadence any DV design assumes.


def _with_listed_file(spark: SparkSession, path: str, df: DataFrame,
                      rel_files: list[str]) -> DataFrame:
    """Attach `_dv_file` (the file's name AS LISTED in the log — rel
    for native files, absolute for shallow-cloned ones) and `_dv_ri`
    (row position) to a freshly-scanned DataFrame via a broadcast
    join against the (listed name → absolute path) mapping — one row
    per file, the same driver scale as the file list the scanner
    already holds. String surgery on the URI can't do this: a cloned
    table lists SOURCE-absolute paths whose `/data/` split would
    produce a name the log never stored."""
    rows = [(f, os.path.abspath(os.path.join(path, f))) for f in rel_files]
    mapping = spark.createDataFrame(rows, "_dv_file string, _abs string")
    marked = df.withColumn(
        "_fp", F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "/")
    ).withColumn("_fp", F.regexp_replace(F.col("_fp"), "^//*", "/")).withColumn(
        "_dv_ri", F.col("_metadata.row_index")
    )
    return (
        marked.join(F.broadcast(mapping), marked["_fp"] == mapping["_abs"])
        .drop("_fp", "_abs")
    )


def _dv_files_for(dvs: dict[str, list[str]], rel_files: list[str]) -> list[str]:
    """The distinct DV files any of `rel_files` needs subtracted."""
    out: set[str] = set()
    for f in rel_files:
        out.update(dvs.get(f, []))
    return sorted(out)


def _dv_positions(spark: SparkSession, path: str,
                  dv_files: list[str]) -> DataFrame:
    """The distinct (file, row_index) positions `dv_files` delete."""
    return _scan(spark, path, dv_files).select("file", "row_index").distinct()


def _apply_dvs(spark: SparkSession, path: str, df: DataFrame,
               rel_files: list[str], dv_files: list[str]) -> DataFrame:
    """Subtract deletion-vector positions from a freshly-scanned
    DataFrame of `rel_files`. `df` must come straight from a parquet
    read (the `_metadata` hidden column resolves only on the scan
    relation). No-op (and plan-identical) when the table carries no
    DVs."""
    if not dv_files:
        return df
    dv = _dv_positions(spark, path, dv_files)
    marked = _with_listed_file(spark, path, df, rel_files)
    out = marked.join(
        F.broadcast(dv),
        (marked["_dv_file"] == dv["file"]) & (marked["_dv_ri"] == dv["row_index"]),
        "left_anti",
    )
    return out.drop("_dv_file", "_dv_ri")


def _live_with_positions(spark: SparkSession, path: str, s: Snapshot,
                         rel_files: list[str],
                         dvs: dict[str, list[str]]) -> DataFrame:
    """The current LIVE rows (existing DVs subtracted) with their
    (`_dv_file`, `_dv_ri`) positions materialized from the scan
    relation — the shared front half of every MOR writer
    (delete_where / update_where)."""
    df = _replay_schema(_scan(spark, path, rel_files), s.acts, s.logical_cols)
    marked = _with_listed_file(spark, path, df, rel_files)
    old_dv = _dv_files_for(dvs, rel_files)
    if old_dv:
        prior = _dv_positions(spark, path, old_dv)
        marked = marked.join(
            F.broadcast(prior),
            (marked["_dv_file"] == prior["file"])
            & (marked["_dv_ri"] == prior["row_index"]),
            "left_anti",
        )
    return marked


def _prune_files_for_dml(rel_files: list[str], stats: dict | None,
                         partition_filter: dict | None,
                         stats_filter: dict | None) -> list[str]:
    """Planner-side file pruning for the MOR writers — the same
    partition-value / [min, max]-stats rules `read_version` applies,
    so a predicate-scoped DELETE/UPDATE on a 100 TB table scans only
    the files that can contain matches instead of the whole snapshot.
    SOUNDNESS CONTRACT (caller's): the filters must be implied by the
    predicate — a file the filters drop is a file the writer never
    inspects, exactly like read_version's pruning aids."""
    if partition_filter:
        rel_files = [f for f in rel_files
                     if _matches_partition(f, partition_filter,
                                           missing="keep")]
    if stats_filter and rel_files:
        rel_files = [
            f for f in rel_files if _stats_may_match(stats.get(f), stats_filter)
        ]
    return rel_files


def delete_where(spark: SparkSession, path: str, predicate,
                 n_files: int = 1,
                 partition_filter: dict | None = None,
                 stats_filter: dict | None = None) -> int:
    """DELETE via deletion vectors: mark every current row matching
    `predicate` (SQL string or Column) deleted WITHOUT rewriting any
    data file. Writes one small parquet of (file, row_index)
    positions under a per-attempt `v<N>-<attempt>dv/` directory and
    commits `{"dv_add": {...}}` through the same atomic create-if-absent log
    protocol as every other writer (a lost race raises
    CommitConflictError; the orphaned DV parquet is vacuum food).
    Returns the new version — or the current one unchanged when no
    row matches (no empty versions).

    Cost shape: one predicate scan of the current snapshot (the same
    scan a COW delete needs to FIND the rows) + a write of O(matched
    rows) positions; zero data-file rewrite. The scan excludes
    already-deleted positions, so re-running the same predicate is a
    no-op, not a DV that grows without bound. `partition_filter` /
    `stats_filter` (same shapes as read_version's) prune the
    predicate scan to the files that can contain matches — the
    filters MUST be implied by the predicate."""
    s, rel_files, dvs = _plan_dml(spark, path, partition_filter, stats_filter)
    prev_v = s.version
    if not rel_files:
        return prev_v
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    marked = _live_with_positions(spark, path, s, rel_files, dvs)
    hits = marked.filter(cond).select(
        F.col("_dv_file").alias("file"), F.col("_dv_ri").alias("row_index")
    )
    new_v = prev_v + 1
    sub = _new_sub(new_v) + "dv"
    out_dir = os.path.join(path, _DATA, sub)
    hits.repartition(max(1, n_files)).write.mode("overwrite").parquet(out_dir)
    dv_files = _list_data_files(path, sub)
    # bounded by the commit entry itself: dv_add.files must carry this
    # exact list, so the distinct-file collect materializes nothing the
    # log write would not (one cheap job over the just-written DVs)
    affected = sorted(
        r.file
        for r in _scan(spark, path, dv_files).select("file").distinct().collect()
    )
    if not affected:  # predicate matched nothing: drop the empty attempt
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        return prev_v
    _commit_log(
        path, new_v,
        {"add": [], "remove": [], "op": "DELETE",
         "dv_add": {"files": affected, "dv": dv_files}},
    )
    return new_v


def update_where(spark: SparkSession, path: str, key: str,
                 assignments: dict, predicate, n_files: int = 1,
                 partition_filter: dict | None = None,
                 stats_filter: dict | None = None) -> int:
    """MERGE-ON-READ UPDATE (Delta's UPDATE with DVs): rows matching
    `predicate` get `assignments` ({col: Column-or-SQL-expr, may
    reference the old row's columns}) applied — implemented as ONE
    atomic commit that (a) deletion-vectors the old positions and
    (b) appends a new file with the updated rows. No existing data
    file is rewritten; the version's row-level CDF pairs the old and
    new images on `key` as update_preimage/update_postimage exactly
    like a COW rewrite's. Returns the new version (or the current one
    when nothing matches).

    Cost shape: one predicate scan + O(matched rows) written — the
    point-update path for a 100 TB table where COW would rewrite
    every file a scattered predicate touches. Updated rows land
    range-sorted on `key` (partition-dir-routed on partitioned
    tables, so an update that changes a partition value migrates the
    row); assignments must target existing columns (a typo'd name is
    a loud error, not silent schema evolution — use add_column/merge
    for evolution). `partition_filter` / `stats_filter` (read_version
    shapes, MUST be implied by the predicate) prune the scan to the
    files that can contain matches."""
    s, rel_files, dvs = _plan_dml(spark, path, partition_filter, stats_filter)
    prev_v = s.version
    if not rel_files:
        return prev_v
    marked = _live_with_positions(spark, path, s, rel_files, dvs)
    data_cols = [c for c in marked.columns if c not in ("_dv_file", "_dv_ri")]
    unknown = sorted(set(assignments) - set(data_cols))
    if unknown:
        raise ValueError(
            f"assignments target columns not in the table schema {unknown}; "
            "use add_column()/merge(merge_schema=True) to evolve the schema"
        )
    ident = s.identity
    if ident and ident["col"] in assignments:
        raise ValueError(
            f"{ident['col']!r} is GENERATED ALWAYS AS IDENTITY; "
            "update_where may not assign it"
        )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    hits = marked.filter(cond)

    new_v = prev_v + 1
    dv_sub = _new_sub(new_v) + "dv"
    dv_dir = os.path.join(path, _DATA, dv_sub)
    hits.select(
        F.col("_dv_file").alias("file"), F.col("_dv_ri").alias("row_index")
    ).repartition(max(1, n_files)).write.mode("overwrite").parquet(dv_dir)
    dv_files = _list_data_files(path, dv_sub)
    affected = sorted(
        r.file
        for r in _scan(spark, path, dv_files).select("file").distinct().collect()
    )
    if not affected:  # nothing matched: drop the empty attempt
        import shutil

        shutil.rmtree(dv_dir, ignore_errors=True)
        return prev_v

    updated = hits
    for c, expr in assignments.items():
        updated = updated.withColumn(
            c, F.expr(expr) if isinstance(expr, str) else expr
        )
    updated = updated.select(*data_cols)
    updated = _apply_generated(updated, s.generated)
    _validate_constraints(updated, s.constraints, "update_where")
    sub = _new_sub(new_v)
    out_dir = os.path.join(path, _DATA, sub)
    if s.pby:
        _write_partitioned(updated, out_dir, key, max(1, n_files), s.pby)
    else:
        (
            updated.repartitionByRange(max(1, n_files), F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    adds = _list_data_files(path, sub)
    entry: dict = {
        "add": adds,
        "remove": [],
        "dv_add": {"files": affected, "dv": dv_files},
    }
    entry.update(_entry_partition_meta(adds))
    entry.update(_entry_stats_blooms(spark, path, adds, s))
    entry["op"] = "UPDATE"
    _commit_log(path, new_v, entry)
    return new_v


def last_txn_version(path: str, app: str) -> int:
    """The highest idempotent-transaction version recorded for `app`
    (-1 when none) — Delta's txnAppId/txnVersion ledger, replayed
    from the log (checkpoint entries re-emit the whole map)."""
    return table_txns(path).get(app, -1)


def table_txns(path: str, version: int | None = None) -> dict:
    """{app: highest txn version} across the whole log — what
    checkpoint_log re-emits so idempotence survives the squash."""
    return snapshot(path, version, bulk=()).txns


def _key_ranges(spark: SparkSession, spans: list[tuple],
                key_type: T.DataType) -> DataFrame:
    """The (file, lo, hi) relation of `spans`, lo/hi typed as the key
    (NULL where a file has no range). Built from an Arrow table: a
    local relation, so broadcasting it starts no job (the row-list
    form of createDataFrame is an RDD that must be collected)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    at = to_arrow_type(key_type)
    files, los, his = zip(*spans) if spans else ((), (), ())
    tbl = pa.table({"file": pa.array(files, pa.string()),
                    "lo": pa.array(los, at), "hi": pa.array(his, at)})
    schema = T.StructType([T.StructField("file", T.StringType()),
                           T.StructField("lo", key_type),
                           T.StructField("hi", key_type)])
    return spark.createDataFrame(tbl, schema)


def merge(spark: SparkSession, path: str, key: str | list[str],
          updates: DataFrame | None = None,
          delete_keys: DataFrame | None = None,
          inserts: DataFrame | None = None,
          merge_schema: bool = False,
          txn: tuple | None = None) -> int:
    """Copy-on-write MERGE: apply column updates (matched by `key`)
    and/or deletes, producing a new version. Only data files whose
    [min, max] range of `key` overlaps a touched key are rewritten;
    untouched files carry over by reference in the log. Returns the
    new version number.

    `key` may be a COMPOSITE list (multi-tenant keys: `["tenant",
    "id"]`): rows match on ALL key columns; the FIRST key must be the
    table's clustering key — file-range pruning and the rewrite
    layout stay on it (pruning on a leading composite member is a
    sound superset: a file is rewritten iff its clustering-key range
    overlaps a touched clustering key, and unmatched rows inside it
    carry through the rewrite unchanged). Change relations must carry
    every key column.

    Per-file key ranges come from the data files' parquet footers
    (one footer read per file per process, see "parquet footers"), so
    planning reads no table data; one action over the change
    relations, joined to the broadcast (file, lo, hi) relation,
    returns the files to rewrite and the duplicate-key check's count.
    The driver holds only those triples and the file lists it must
    hand the scanner anyway.

    `txn=(app_id, txn_version)` makes the merge IDEMPOTENT (Delta's
    txnAppId/txnVersion): if the log already records a version ≥
    txn_version for app_id, the merge is SKIPPED entirely — the
    replayed-micro-batch / re-run-job case becomes a true no-op
    instead of a duplicate apply. The ledger entry commits atomically
    WITH the data, so a crash between data write and commit leaves no
    recorded txn and the retry applies cleanly; under OCC the losing
    writer's retry re-reads the ledger and skips if its twin won."""
    s = snapshot(path)
    if txn is not None:
        app, tv = txn
        if int(tv) <= s.txns.get(str(app), -1):
            return current_version(path)
    keys = [key] if isinstance(key, str) else list(key)
    key = keys[0]  # clustering/layout key: file pruning + write order
    for rel, what in ((updates, "updates"), (delete_keys, "delete_keys"),
                      (inserts, "inserts")):
        if rel is not None:
            miss = [k for k in keys if k not in rel.columns]
            if miss:
                raise ValueError(f"{what} lack merge key column(s) {miss}")
    prev_v = s.version
    live = _read_snapshot(spark, path, s)  # DV-applied: the live rows
    pby = s.pby
    constraints = s.constraints
    generated = s.generated
    ident = s.identity
    _reject_identity_col(ident, [updates, inserts], "merge change relations")
    ident_assigned = [0]  # inserted-row count, for the watermark advance

    def _write_insert_leg(new_rows: DataFrame, sub: str, mode: str) -> None:
        # GENERATED ALWAYS: inserts never need to carry generated
        # columns — they recompute from their expressions here
        new_rows = _apply_generated(new_rows, generated)
        if ident:
            # IDENTITY allocation: ids from the current high watermark,
            # deterministic within the batch (ordered by the table key)
            new_rows = new_rows.drop(ident["col"])
            n_new = new_rows.count()
            new_rows = _assign_identity(new_rows, ident, key)
            ident_assigned[0] += n_new
        _validate_constraints(new_rows, constraints, "merge insert leg")
        out_dir = os.path.join(path, _DATA, sub)
        if pby:
            _write_partitioned(new_rows, out_dir, key, 1, pby, mode=mode)
        else:
            new_rows.coalesce(1).write.mode(mode).parquet(out_dir)

    # AUTOMATIC SCHEMA EVOLUTION on merge (Delta's mergeSchema):
    # columns present in the change relations but absent from the
    # snapshot are ADDED — recorded as schema_adds in this version's
    # log entry, so carried-over files read them as typed NULLs and
    # later rewrites materialize real values. Off by default: without
    # merge_schema=True an unknown column is a loud error, not a
    # silent drop (a typo'd column name should not evolve the table).
    known = set(live.columns)
    new_cols: dict[str, T.DataType] = {}
    for rel in (updates, inserts):
        if rel is None:
            continue
        for f in rel.schema.fields:
            if f.name not in known and f.name not in keys and f.name not in new_cols:
                new_cols[f.name] = f.dataType
    if new_cols and not merge_schema:
        raise ValueError(
            f"change relations carry columns not in the table schema "
            f"{sorted(new_cols)}; pass merge_schema=True to evolve, or fix "
            f"the column names"
        )
    if new_cols:
        clash = sorted(set(new_cols) & _retired_names(s.acts))
        if clash:
            raise ValueError(
                f"columns {clash} were retired by an earlier rename/drop; "
                "old data files may still carry values under them — pick "
                "fresh names (see rename_column)"
            )
    schema_adds = [{"column": c, "type": t.simpleString(), "json": t.json()}
                   for c, t in sorted(new_cols.items())]

    def _commit(version: int, add: list[str], remove: list[str]) -> None:
        entry: dict = {"add": sorted(add), "remove": sorted(remove)}
        if schema_adds:
            entry["schema_adds"] = schema_adds
        entry.update(_entry_partition_meta(add))
        entry.update(_entry_stats_blooms(spark, path, sorted(add), s))
        if ident and ident_assigned[0]:
            entry["identity"] = {
                **ident,
                "high": ident["high"] + ident["step"] * ident_assigned[0],
            }
        if txn is not None:
            entry["txn"] = {"app": str(txn[0]), "version": int(txn[1])}
        entry["op"] = "MERGE"
        _commit_log(path, version, entry)

    chg_rels = [r for r in (updates, delete_keys) if r is not None]
    if not chg_rels and inserts is None:
        raise ValueError("merge needs updates, delete_keys, and/or inserts")
    if not chg_rels:
        # insert-only merge: append one file, rewrite nothing
        new_v = prev_v + 1
        sub = _new_sub(new_v)
        new_rows = inserts.join(live.select(*keys), keys, "left_anti")
        _write_insert_leg(new_rows, sub, "overwrite")
        _commit(new_v, _list_data_files(path, sub), [])
        return new_v

    # Per-FILE overlap test, not one global bounding box: a scattered
    # change set (keys 1 and 10⁹) must rewrite only the files that
    # actually contain a touched key's range. Each file's key range
    # comes from its footer (see "parquet footers"), under the newest
    # name the key carried when the file was written (column mapping:
    # pre-rename files store the old physical name). Footer ranges
    # cover DV-deleted rows too: a sound superset, as a file whose
    # every touched-range row is DV-deleted rewrites harmlessly (and
    # sheds its spent DVs). A file without a usable range (unranged
    # key type, all-NULL key, key column absent) counts as holding
    # every key; a file without rows holds none.
    phys = _physical_names_of(s.acts, key)
    spans, key_seen = [], False
    for f in sorted(s.files):
        ft = footer(os.path.abspath(os.path.join(path, f)))
        name = next((c for c in phys if c in ft.arrow.names), None)
        key_seen = key_seen or name is not None
        if ft.num_rows:
            spans.append((f, *ft.ranges.get(name, (None, None))))
    if not key_seen:
        raise ValueError(f"merge key {key!r} not found in any data file")
    ranges = _key_ranges(spark, spans, live.schema[key].dataType)
    # ONE action answers both planning questions: the files a touched
    # key falls in, and the largest row count of any `updates` key (a
    # duplicate would FAN OUT the update join and silently duplicate
    # table rows). The change keys join the broadcast (file, lo, hi)
    # relation; keys outside every range keep a NULL file.
    chg = []
    if updates is not None:
        chg.append(updates.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
                   .select(F.col(key).alias("_k"), "_n"))
    if delete_keys is not None:
        chg.append(delete_keys.select(F.col(key).alias("_k"),
                                      F.lit(0).cast("long").alias("_n")))
    k = F.col("_k")
    inside = k.isNotNull() & (F.col("lo").isNull() | k.between(F.col("lo"), F.col("hi")))
    planned = (
        functools.reduce(DataFrame.unionAll, chg)
        .join(F.broadcast(ranges), inside, "left")
        .groupBy("file").agg(F.max("_n").alias("_n"))
        .collect()
    )
    affected = sorted(r.file for r in planned if r.file is not None)
    dup_keys = any((r._n or 0) > 1 for r in planned)
    # PARTITION CONFINEMENT (VERDICT r4 #3): when the table is
    # partitioned AND every change relation carries the partition
    # columns, the rewrite set shrinks to files in the TOUCHED
    # partitions — a key-range overlap in an untouched partition
    # (key ranges repeat per partition) no longer forces a rewrite.
    # The distinct-partition collect is bounded by partitions touched,
    # the same driver contract as the pruned file list itself.
    # Semantics note: this assumes a change row's partition values
    # name the partition its key LIVES in (true whenever the
    # partition column is an immutable attribute of the key, the
    # standard lakehouse layout rule); rows whose stored partition
    # differs from the change row's claim are left untouched, exactly
    # like a Delta MERGE whose ON clause includes the partition
    # predicate. Change relations WITHOUT the partition columns keep
    # the partition-agnostic (key-only) semantics.
    if pby and affected and all(
        all(c in rel.columns for c in pby) for rel in chg_rels
    ):
        # BOUNDED collect (VERDICT r6 #6): confinement is an
        # OPTIMIZATION, so cap the distinct-partition pull — a change
        # set touching more partitions than the cap skips confinement
        # (sound: the key-range prune above already holds) instead of
        # shipping an unbounded partition list through the driver.
        touched_parts: set[tuple] = set()
        over_cap = False
        for rel in chg_rels:
            rows = rel.select(*pby).distinct() \
                .limit(_PART_CONFINE_CAP + 1).collect()
            if len(rows) > _PART_CONFINE_CAP:
                over_cap = True
                break
            touched_parts |= {
                tuple("" if r[c] is None else str(r[c]) for c in pby)
                for r in rows
            }
        if not over_cap:
            affected = [
                f
                for f in affected
                if tuple(_pvals_of_rel(f).get(c, "") for c in pby)
                in touched_parts
            ]
    if not affected:
        # No file's key range overlaps a touched key — nothing to
        # rewrite, but the INSERT leg must still run: a batch of
        # all-new keys (monotonically increasing keys, the normal
        # append-style CDC shape) lands entirely here, and the
        # update/delete relations matching zero snapshot rows is the
        # MERGE no-op, not a reason to drop the inserts.
        new_v = prev_v + 1
        if inserts is None:
            # commit via _commit (not _write_log) so schema_adds from a
            # merge_schema=True update relation evolve the table even
            # when the update keys match no snapshot file — Delta
            # evolves the schema regardless of row matches
            _commit(new_v, [], [])
            return new_v
        sub = _new_sub(new_v)
        new_rows = inserts.join(live.select(*keys), keys, "left_anti")
        _write_insert_leg(new_rows, sub, "overwrite")
        _commit(new_v, _list_data_files(path, sub), [])
        return new_v

    rewrite_src = _scan(spark, path, affected)
    # DV-deleted rows must not resurrect through the rewrite: apply
    # the affected files' deletion vectors before the merge legs; the
    # new commit removes those files, which drops their spent DVs
    rewrite_src = _apply_dvs(spark, path, rewrite_src, affected, _dv_files_for(s.dvs, affected))
    # schema-action replay: lazily-added columns materialize into the
    # rewritten files here (the "later rewrites fill real values" half
    # of additive evolution), renamed columns physically take their
    # new name, and dropped columns shed from the touched files
    rewrite_src = _replay_schema(rewrite_src, s.acts, s.logical_cols)
    out = rewrite_src
    if delete_keys is not None:
        out = out.join(F.broadcast(delete_keys.select(*keys)), keys, "left_anti")
    if updates is not None:
        # a duplicate key in the update batch would FAN OUT the left
        # join and silently duplicate table rows — fail loud and make
        # the caller state its conflict policy (pre-aggregate the
        # changelog to one row per key)
        if dup_keys:
            raise ValueError(
                "updates contain duplicate keys; reduce the changelog to one "
                "row per key (last-write-wins needs an ordering column) "
                "before merge"
            )
        upd_cols = [c for c in updates.columns if c not in keys]
        renamed = updates.select(
            *keys, *[F.col(c).alias(f"_u_{c}") for c in upd_cols]
        )
        out = out.join(F.broadcast(renamed), keys, "left")
        for c in upd_cols:
            if c in rewrite_src.columns:
                out = out.withColumn(c, F.coalesce(F.col(f"_u_{c}"), F.col(c)))
            else:  # evolved column: update rows get the value, rest NULL
                out = out.withColumn(c, F.col(f"_u_{c}"))
            out = out.drop(f"_u_{c}")
        out = out.select(
            *rewrite_src.columns,
            *[c for c in new_cols if c in out.columns and c not in rewrite_src.columns],
        )
    # evolved columns carried ONLY by inserts (not updates) must still
    # exist in the rewrite output, else the insert leg's select below
    # would silently drop their values from the appended file
    for c, t in new_cols.items():
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast(t))

    # GENERATED ALWAYS: recompute after updates apply, so an update
    # that moves the source value migrates the row's partition
    out = _apply_generated(out, generated)
    _validate_constraints(out, constraints, "merge rewrite")
    new_v = prev_v + 1
    sub = _new_sub(new_v)
    if pby:
        # partition-preserving rewrite: dirs re-derive from the data
        # columns, so an update that CHANGES a partition value
        # migrates the row to its new partition directory
        _write_partitioned(
            out, os.path.join(path, _DATA, sub), key, max(1, len(affected)), pby
        )
    else:
        (
            out.repartitionByRange(max(1, len(affected)), F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(os.path.join(path, _DATA, sub))
        )
    if inserts is not None:
        # INSERT leg: keys absent from the snapshot append as new
        # files — no rewrite; the defensive anti-join makes the leg
        # idempotent under replay (a re-delivered row is an update)
        new_rows = inserts.join(live.select(*keys), keys, "left_anti")
        for c in out.columns:
            if c not in new_rows.columns:
                new_rows = new_rows.withColumn(
                    c, F.lit(None).cast(dict(out.dtypes)[c])
                )
        new_rows = new_rows.select(*out.columns)
        _write_insert_leg(new_rows, sub, "append")
    _commit(new_v, _list_data_files(path, sub), affected)
    return new_v


def merge_with_retry(spark: SparkSession, path: str, key: str | list[str],
                     updates: DataFrame | None = None,
                     delete_keys: DataFrame | None = None,
                     inserts: DataFrame | None = None,
                     merge_schema: bool = False,
                     txn: tuple | None = None,
                     max_retries: int = 3) -> int:
    """MERGE under optimistic concurrency with bounded retry: on
    CommitConflictError, re-read the (now newer) snapshot and re-apply
    the same change relations — the standard OCC loop Delta/Iceberg
    writers run. Correct because the change relations are DECLARATIVE
    (keys + new values): re-running them against the newer snapshot
    yields the state as if this merge had simply committed after the
    competing one. Raises after `max_retries` losses (persistent
    contention should back off at the application level, not spin
    here)."""
    last: CommitConflictError | None = None
    for _ in range(max_retries + 1):
        try:
            return merge(spark, path, key, updates=updates,
                         delete_keys=delete_keys, inserts=inserts,
                         merge_schema=merge_schema, txn=txn)
        except CommitConflictError as e:
            last = e
    raise last


def add_column(path: str, col_name: str, col_type: str) -> int:
    """ADDITIVE SCHEMA EVOLUTION as a zero-rewrite version: no data
    file changes — the new version's log entry records the (name,
    type) and `read_version` materializes the column as a typed NULL
    wherever files predate it (Delta/Iceberg's additive-evolution
    semantics: metadata change now, data lazily, later rewrites fill
    real values into whatever files they touch). Returns the new
    version."""
    return add_columns(path, [(col_name, col_type)])


def add_columns(path: str, cols: list[tuple[str, str]]) -> int:
    """`add_column` for several (name, type) pairs as ONE version.
    Every pair is checked before the commit, so a bad one commits
    nothing: the type must resolve through `_added_type`, and the name
    must be new to the table, given once, and not retired by a
    rename/drop. Each add records the resolved type's JSON, which the
    session-less DataSource reads instead of parsing the DDL."""
    s = snapshot(path, bulk=())
    taken = set(s.logical_cols or ())
    retired = _retired_names(s.acts)
    seen: set[str] = set()
    for col_name, col_type in cols:
        if col_name in retired:
            raise ValueError(
                f"column name {col_name!r} was retired by an earlier "
                "rename/drop; old data files may still carry values under "
                "it — pick a fresh name (see rename_column)"
            )
        if col_name in taken or col_name in seen:
            raise ValueError(f"column {col_name!r} already exists")
        seen.add(col_name)
    adds = [{"column": c, "type": t, "json": _added_type(c, t).json()}
            for c, t in cols]
    new_v = s.version + 1
    _commit_log(
        path,
        new_v,
        {
            "add": [],
            "remove": [],
            "schema_adds": adds,
            "op": "ADD COLUMN" if len(cols) == 1 else "ADD COLUMNS",
        },
    )
    return new_v


def _storable(dt: T.DataType) -> bool:
    """Whether the table's data files can hold `dt`, at any nesting
    depth: Spark's parquet writer rejects intervals and VOID, and
    pyarrow (footer planning, the DataSource) cannot read Spark's
    VARIANT encoding."""
    if isinstance(dt, (T.NullType, T.VariantType, T.CalendarIntervalType,
                       T.YearMonthIntervalType, T.DayTimeIntervalType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _storable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _storable(dt.keyType) and _storable(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_storable(f.dataType) for f in dt.fields)
    return True


def _added_type(col_name: str, col_type: str) -> T.DataType:
    """The type an added column reads as: `col_type` resolved by the
    cast every read applies to files that predate the column (CHAR and
    VARCHAR come back as STRING). A type Spark rejects, or one the
    data files cannot hold (`_storable`: no later write could fill the
    column), is a ValueError."""
    spark = SparkSession.active()
    try:
        dt = spark.range(0).select(F.lit(None).cast(col_type)).schema[0].dataType
    except PySparkException as e:  # any type Spark rejects
        raise ValueError(
            f"unknown type {col_type!r} for column {col_name!r}") from e
    if not _storable(dt):
        raise ValueError(
            f"type {col_type!r} of column {col_name!r} cannot be stored "
            "in the table's data files")
    return dt


def _apply_schema_actions(df: DataFrame, actions: list[dict]) -> DataFrame:
    """Replay the schema-action history over a RAW (possibly
    mixed-vintage, union-schema: `_scan`) scan so the result carries the
    LOGICAL schema:

    - add: files predating the add read the column as a typed NULL
    - rename: files written before the rename carry the OLD physical
      name, files after carry the new one — the union-schema scan shows
      BOTH columns (each NULL where absent), so the rename coalesces
      new-over-old and drops the old (disjoint row sets make the
      coalesce exact); single-vintage scans just rename
    - drop: the physical column may survive in old files; the replay
      removes it from every read

    Pure Column algebra on the scan relation — `_metadata` stays
    addressable below these projections, so DV subtraction and
    per-file stats keep working on replayed frames."""
    cols = set(df.columns)
    for a in actions:
        if a["kind"] == "add":
            c = a["column"]
            if c not in cols:
                df = df.withColumn(c, F.lit(None).cast(a["type"]))
                cols.add(c)
        elif a["kind"] == "rename":
            o, n = a["from"], a["to"]
            if o in cols and n in cols:
                df = df.withColumn(n, F.coalesce(F.col(n), F.col(o))).drop(o)
                cols.discard(o)
            elif o in cols:
                df = df.withColumnRenamed(o, n)
                cols.discard(o)
                cols.add(n)
        elif a["kind"] == "drop":
            c = a["column"]
            if c in cols:
                df = df.drop(c)
                cols.discard(c)
    return df


def _logical_cols(order: list[str] | None,
                  acts: list[dict]) -> list[str] | None:
    """The LOGICAL column order: `order` (the declared base order, or
    a cached order the actions extend) with schema actions `acts`
    replayed over the NAME LIST — adds append, a rename keeps the
    column's position, drops remove. Delta's declared-schema ordering,
    which a mixed-vintage union-schema scan cannot provide on its own;
    None for tables created before the base order was recorded."""
    if order is None:
        return None
    order = list(order)
    for a in acts:
        if a["kind"] == "add":
            if a["column"] not in order:
                order.append(a["column"])
        elif a["kind"] == "rename":
            if a["from"] in order:
                order[order.index(a["from"])] = a["to"]
        elif a["kind"] == "drop":
            if a["column"] in order:
                order.remove(a["column"])
    return order


def _replay_schema(df: DataFrame, acts: list[dict],
                   order: list[str] | None) -> DataFrame:
    """Schema-action replay + logical column ordering: the one
    post-processing step every raw scan goes through to present the
    table's logical schema (`acts` / `order` from a snapshot, or the
    manifest meta's cache of them)."""
    df = _apply_schema_actions(df, acts)
    if order:
        keep = [c for c in order if c in df.columns]
        extra = [c for c in df.columns if c not in set(keep)]
        if df.columns != keep + extra:
            df = df.select(*keep, *extra)
    return df


def _retired_names(acts: list[dict]) -> set[str]:
    """Physical names a rename or drop in `acts` RETIRED: old data
    files may still carry real values under them, so re-introducing
    the name (add_column / merge schema evolution / rename target)
    would resurrect stale data through the union-schema scan.
    Loud-rejected at every schema-introduction point — the price of
    column mapping without Delta's per-column physical IDs, documented
    in rename_column."""
    retired: set[str] = set()
    for a in acts:
        if a["kind"] == "rename":
            retired.add(a["from"])
            retired.discard(a["to"])
        elif a["kind"] == "drop":
            retired.add(a["column"])
        elif a["kind"] == "add":
            retired.discard(a["column"])
    return retired


def _physical_names_of(actions: list[dict], logical: str) -> list[str]:
    """Every physical name `logical` has carried across the rename
    history, newest first — the names a file of any vintage may
    hold the column under (merge looks up each file's footer key
    range by them)."""
    names = [logical]
    for a in reversed(actions):
        if a["kind"] == "rename" and a["to"] == names[-1]:
            names.append(a["from"])
    return names


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """RENAME COLUMN as a zero-rewrite version (Delta's column-mapping
    rename): no data file changes — the log records the rename and
    every reader replays it (`_apply_schema_actions`), coalescing
    mixed vintages where files written after the rename carry the new
    physical name. Time travel to a pre-rename version still shows
    the old name (the replay is version-pinned).

    Loud-rejected renames (all metadata-only checks):
    - `old` absent from, or `new` already in, the current schema
    - `new` previously retired by a rename/drop (stale-data
      resurrection guard — see `_retired_names`)
    - `old` is a partition column, a stats column, or referenced by
      an active CHECK constraint (those subsystems key on the stored
      name; drop/re-create them around the rename instead)."""
    s = snapshot(path)
    if s.version < 0:
        raise ValueError(f"no lakehouse table at {path}")
    cur_cols = _read_snapshot(spark, path, s).columns
    if old not in cur_cols:
        raise ValueError(f"column {old!r} not in table schema {cur_cols}")
    if new in cur_cols:
        raise ValueError(f"column {new!r} already exists")
    if new in _retired_names(s.acts):
        raise ValueError(
            f"column name {new!r} was retired by an earlier rename/drop; "
            "old data files may still carry values under it — pick a fresh name"
        )
    _check_name_unreferenced(s, old)
    new_v = s.version + 1
    _commit_log(
        path, new_v,
        {"add": [], "remove": [], "op": "RENAME COLUMN",
         "schema_rename": {"from": old, "to": new}},
    )
    return new_v


def drop_column(spark: SparkSession, path: str, col_name: str) -> int:
    """DROP COLUMN as a zero-rewrite version (Delta's column-mapping
    drop): the physical column stays in existing files; every reader's
    replay removes it, and rewrites (merge legs, OPTIMIZE) physically
    shed it from whatever files they touch. Time travel to a pre-drop
    version still shows the column. Same guards as rename_column."""
    s = snapshot(path)
    if s.version < 0:
        raise ValueError(f"no lakehouse table at {path}")
    cur_cols = _read_snapshot(spark, path, s).columns
    if col_name not in cur_cols:
        raise ValueError(f"column {col_name!r} not in table schema {cur_cols}")
    _check_name_unreferenced(s, col_name)
    new_v = s.version + 1
    _commit_log(
        path, new_v,
        {"add": [], "remove": [], "op": "DROP COLUMN",
         "schema_drop": {"column": col_name}},
    )
    return new_v


def _check_name_unreferenced(s: Snapshot, col_name: str) -> None:
    """Reject renaming/dropping a column the table's partition spec,
    stats spec, or an active CHECK constraint references by name."""
    import re as _re

    if col_name in s.pby:
        raise ValueError(f"{col_name!r} is a partition column")
    if col_name in s.scols:
        raise ValueError(f"{col_name!r} is a stats column")
    if s.bloom and col_name in s.bloom["cols"]:
        raise ValueError(f"{col_name!r} is a bloom-filter column")
    if s.identity and col_name == s.identity["col"]:
        raise ValueError(f"{col_name!r} is an identity column")
    for gcol, gexpr in s.generated.items():
        if col_name == gcol:
            raise ValueError(f"{col_name!r} is a generated column")
        if _re.search(rf"\b{_re.escape(col_name)}\b", gexpr):
            raise ValueError(
                f"{col_name!r} is referenced by generated column {gcol!r} "
                f"({gexpr})"
            )
    for cname, expr in s.constraints.items():
        if _re.search(rf"\b{_re.escape(col_name)}\b", expr):
            raise ValueError(
                f"{col_name!r} is referenced by CHECK constraint {cname!r} "
                f"({expr}); drop the constraint first"
            )


def optimize(spark: SparkSession, path: str, key: str, n_files: int = 4,
             partitions: dict | None = None,
             zorder_by: list[str] | None = None,
             target_file_bytes: int | None = None) -> int:
    """OPTIMIZE (compaction) as a version: rewrite the CURRENT file
    set into `n_files` range-bucketed files with identical rows — the
    small-files pass (`sinks.compact_small_files`) lifted into the
    versioned world, so readers pinned to old versions keep their
    exact files while new readers get the compacted layout. Returns
    the new version.

    `partitions` ({col: value-or-values}) scopes the compaction to
    matching partitions — Delta's `OPTIMIZE ... WHERE`: only those
    partitions' files rewrite (the streaming-ingest pattern compacts
    ONLY the day that just closed), everything else carries over by
    reference; at 100 TB an unscoped compaction of a date-partitioned
    fact table would rewrite years of cold data for no reason.

    `zorder_by` ([col, ...]) rewrites in MORTON (Z-order) layout —
    Delta's `OPTIMIZE ... ZORDER BY`: rows sort by the bit-interleave
    of the rank-normalized clustering columns (`sinks.zorder_value`),
    so every output file covers a small hyper-rectangle of the
    multi-column space and the logged per-file [min, max] stats
    (`stats_cols`) prune for range predicates on ANY clustered
    column — a plain key sort only prunes its leading column. Pair
    with `table_init(stats_cols=zorder cols)`; unpartitioned tables
    only (partitioned tables compact per-partition, where the
    partition value already is the leading cluster axis).

    `target_file_bytes` derives the output file count from the CURRENT
    compacted size instead of a fixed `n_files` — Delta's
    size-targeted OPTIMIZE (default 1 GB files): n = ceil(current
    bytes / target), driver cost one stat() per file (the same list
    the planner holds). At 100 TB this is the knob that keeps file
    count ∝ data size as the table grows, instead of files growing
    without bound (small-files problem) or a fixed count producing
    ever-larger files."""
    s = snapshot(path)
    prev_v, pby = s.version, s.pby
    if zorder_by and pby and not partitions:
        raise ValueError(
            "zorder_by on a partitioned table must be partition-scoped "
            "(pass partitions= / OPTIMIZE ... WHERE ... ZORDER BY) — "
            "the daily runbook clusters the partition that just closed")
    if target_file_bytes is not None:
        total = 0
        for f in s.files:
            p = os.path.join(path, f)
            if os.path.exists(p):
                total += os.path.getsize(p)
        n_files = max(1, -(-total // target_file_bytes))
    if partitions:
        if not pby:
            raise ValueError("partitions= given but the table is unpartitioned")
        target = [f for f in sorted(s.files)
                  if _matches_partition(f, partitions)]
        if not target:
            raise ValueError(f"no files match partitions {partitions}")
        rows = _scan(spark, path, target)
        # compaction MATERIALIZES deletes: the rewritten files carry
        # the DV-applied rows and the commit's remove drops the spent
        # DV references from the replayed state
        rows = _apply_dvs(spark, path, rows, target,
                          _dv_files_for(s.dvs, target))
        rows = _replay_schema(rows, s.acts, s.logical_cols)
        remove = target
    else:
        rows = _read_snapshot(spark, path, s)
        remove = sorted(s.files)
    rows = _apply_generated(rows, s.generated)
    new_v = prev_v + 1
    sub = _new_sub(new_v)
    z_edges = None
    if pby and zorder_by:
        # PARTITION-SCOPED ZORDER (Delta's `OPTIMIZE ... WHERE ...
        # ZORDER BY`): each targeted partition's rows rewrite in
        # Morton layout under its own dir — read locality + [min,max]
        # pruning on every clustered column inside the hot partition.
        # The driver loop is bounded by the partitions NAMED in the
        # statement (the daily runbook names one). Grid edges are
        # per-partition throwaways: the frozen-grid incremental
        # contract stays the unpartitioned feature.
        from bigdata06_spark.sinks import write_zorder_parquet

        ptuples = sorted({
            tuple(_pvals_of_rel(f).get(c) for c in pby) for f in remove
        })
        for pt in ptuples:
            part_rows = rows
            for c, v in zip(pby, pt):
                part_rows = part_rows.filter(F.col(c).cast("string") == v)
            out_dir = os.path.join(
                path, _DATA, sub, *[f"{c}={v}" for c, v in zip(pby, pt)])
            write_zorder_parquet(part_rows, out_dir, list(zorder_by), n_files)
    elif pby:
        _write_partitioned(rows, os.path.join(path, _DATA, sub), key, n_files, pby)
    elif zorder_by:
        from bigdata06_spark.sinks import write_zorder_parquet

        z_edges = write_zorder_parquet(
            rows, os.path.join(path, _DATA, sub), list(zorder_by), n_files
        )
    else:
        (
            rows.repartitionByRange(n_files, F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(os.path.join(path, _DATA, sub))
        )
    adds = _list_data_files(path, sub)
    entry: dict = {"add": adds, "remove": remove}
    entry.update(_entry_partition_meta(adds))
    entry.update(_entry_stats_blooms(spark, path, adds, s))
    if z_edges is not None:
        # FROZEN grid metadata: later incremental clustering bins new
        # files into the same hyper-rectangles (no re-sketch, no
        # rewrite of already-clustered files) — Delta liquid
        # clustering's incremental contract
        entry["zorder"] = {"cols": list(zorder_by), "bits": 16,
                           "edges": z_edges, "clustered": adds}
    entry["op"] = "OPTIMIZE"
    _commit_log(path, new_v, entry)
    return new_v


def maybe_compact(spark: SparkSession, path: str, key: str,
                  max_files: int, n_files: int = 4) -> int:
    """AUTO-COMPACTION trigger (Delta's autoCompact): when the live
    file count reaches `max_files`, run one OPTIMIZE version down to
    `n_files`; otherwise do nothing. The streaming-ingest companion —
    a micro-batch sink writes one small file per batch, and without a
    compaction valve a day of 1-minute batches is 1440 files whose
    per-file overhead (footers, stats rows, planning entries)
    dominates the scan. Idempotent and cheap to call after every
    batch: the check is one file-count read of the latest snapshot
    state. Returns the current (possibly new) version.

    AMPLIFICATION GUARD (advisor r7): compaction only runs when it can
    land the table BELOW `max_files` — otherwise the very next batch
    re-crosses the threshold and every micro-batch full-rewrites the
    table for no lasting reduction (unbounded write amplification,
    e.g. a partitioned layout whose steady state — at least one file
    per live partition dir — already sits at ≥ max_files). The
    compaction target is clamped to max_files - 1 for the same
    reason: re-triggering then requires max_files - target NEW
    batches, so rewrite bytes amortize at the user's knob ratio
    instead of per-batch."""
    if max_files < 2:
        raise ValueError("max_files must be >= 2")
    s = snapshot(path)
    v, live = s.version, s.files
    if v < 0 or len(live) < max_files:
        return v
    target = min(n_files, max_files - 1)
    if s.pby:
        # a T-task partitioned write lands at up to T + P - 1 files
        # (each range-task boundary that falls inside a partition value
        # splits it into an extra file — _write_partitioned), so the
        # landing estimate is NOT max(T, P): shrink T until even the
        # worst case stays below the threshold, and skip when no
        # T >= 1 can (steady state >= max_files would thrash).
        parts = {tuple(sorted(_pvals_of_rel(f).items())) for f in live}
        if len(parts) >= max_files:
            return v  # cannot reduce below the threshold: skip
        target = max(1, min(target, max_files - len(parts)))
    return optimize(spark, path, key, n_files=target)


def reorg_purge(spark: SparkSession, path: str, key: str,
                n_files: int | None = None) -> int:
    """REORG TABLE ... APPLY (PURGE) (Delta's DV purge): rewrite ONLY
    the files that carry deletion vectors, materializing their
    soft-deleted rows out and dropping the spent DVs — the pressure
    valve that keeps the MOR anti-join side small WITHOUT compacting
    the whole table. Cost is O(DV-carrying files), so a 100 TB table
    whose deletes cluster in one region rewrites just that region;
    OPTIMIZE (O(table)) stays the full-compaction verb. Untouched
    files carry over by reference; a no-DV table is a no-op (returns
    the current version — no empty commits). The rewrite preserves
    the table's layout discipline (partition dirs / key-sorted range
    buckets) and recomputes stats/blooms for the new files."""
    s = snapshot(path)
    prev_v = s.version
    if prev_v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    target = sorted(f for f in s.files if s.dvs.get(f))
    if not target:
        return prev_v
    src = _scan(spark, path, target)
    src = _apply_dvs(spark, path, src, target, _dv_files_for(s.dvs, target))
    src = _replay_schema(src, s.acts, s.logical_cols)
    src = _apply_generated(src, s.generated)
    new_v = prev_v + 1
    sub = _new_sub(new_v)
    n = max(1, len(target)) if n_files is None else max(1, n_files)
    if s.pby:
        _write_partitioned(src, os.path.join(path, _DATA, sub), key, n, s.pby)
    else:
        (
            src.repartitionByRange(n, F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(os.path.join(path, _DATA, sub))
        )
    adds = _list_data_files(path, sub)
    entry: dict = {"add": adds, "remove": target}
    entry.update(_entry_partition_meta(adds))
    entry.update(_entry_stats_blooms(spark, path, adds, s))
    entry["op"] = "REORG PURGE"
    _commit_log(path, new_v, entry)
    return new_v


def table_zorder_meta(path: str) -> dict | None:
    """Latest Z-order grid state ({"cols", "bits", "edges",
    "clustered"}) or None — the most recent OPTIMIZE ZORDER /
    incremental-clustering commit wins (each re-emits the meta with
    its updated clustered-file set)."""
    return snapshot(path, bulk=()).zorder


def optimize_zorder_incremental(spark: SparkSession, path: str,
                                n_files: int = 2) -> int:
    """INCREMENTAL CLUSTERING (Delta liquid clustering's core
    promise): cluster ONLY the files added since the last OPTIMIZE
    ZORDER into the layout's FROZEN quantile grid — already-clustered
    files carry over by reference, so the cost is O(new data), never
    O(table). New files bin with the stored edges (same
    hyper-rectangles), so per-file [min, max] stats prune the mixed
    old+new layout exactly as they pruned the original. The steady
    state at 100 TB: appends land unclustered, a periodic incremental
    pass folds them in, and a full re-sketch is only ever needed when
    the data distribution drifts far from the frozen grid (then run
    OPTIMIZE ZORDER again — it re-sketches and resets `clustered`).
    Returns the new version, or the current one when nothing new."""
    s = snapshot(path)
    prev_v, meta, live = s.version, s.zorder, s.files
    if meta is None:
        raise ValueError(
            f"{path} has no Z-order layout; run optimize(zorder_by=...) "
            "first — incremental clustering folds into an existing grid"
        )
    clustered = [f for f in meta["clustered"] if f in live]
    new_files = sorted(live - set(clustered))
    if not new_files:
        return prev_v
    df = _scan(spark, path, new_files)
    df = _apply_dvs(spark, path, df, new_files,
                    _dv_files_for(s.dvs, new_files))
    df = _replay_schema(df, s.acts, s.logical_cols)
    from bigdata06_spark.sinks import write_zorder_parquet

    new_v = prev_v + 1
    sub = _new_sub(new_v)
    write_zorder_parquet(
        df, os.path.join(path, _DATA, sub), list(meta["cols"]),
        n_files, bits=int(meta["bits"]), edges=meta["edges"],
    )
    adds = _list_data_files(path, sub)
    entry: dict = {"add": adds, "remove": new_files, "op": "OPTIMIZE"}
    entry.update(_entry_partition_meta(adds))
    entry.update(_entry_stats_blooms(spark, path, adds, s))
    entry["zorder"] = {**meta, "clustered": sorted(clustered + adds)}
    _commit_log(path, new_v, entry)
    return new_v


def read_changes(spark: SparkSession, path: str, from_version: int,
                 to_version: int) -> DataFrame:
    """CHANGE-DATA-FEED read at COW granularity: the rows of files
    ADDED between the two versions (exclusive lower bound) — i.e.
    the post-image of every row a rewrite or insert touched, which is
    what an incremental downstream consumer (index refresh,
    aggregate maintenance) reprocesses instead of the whole table.
    File-granular by design (this format rewrites whole files);
    row-level pre/post images would come from pairing removed and
    added files on the key, which composes from this primitive."""
    latest = current_version(path)
    if not (0 <= from_version <= to_version <= latest):
        raise ValueError(f"bad version range [{from_version}, {to_version}]")
    s, before, before_dvs = _snapshot_pair(path, from_version, to_version)
    # a file whose DV set changed in the range is LOGICALLY rewritten
    # (its live row set shrank) — its surviving rows reprocess, same
    # as a COW rewrite's carried rows would
    changed = sorted(
        f
        for f in s.files
        if f not in before or before_dvs.get(f, []) != s.dvs.get(f, [])
    )
    if not changed:
        return _read_snapshot(spark, path, s).limit(0)
    df = _scan(spark, path, changed)
    df = _apply_dvs(spark, path, df, changed, _dv_files_for(s.dvs, changed))
    return _replay_schema(df, s.acts, s.logical_cols)


def _snapshot_pair(path: str, from_version: int, to_version: int
                   ) -> tuple[Snapshot, set[str], dict[str, list[str]]]:
    """(snapshot at `to_version`, file set and DV map at
    `from_version`) from ONE fold: the change-feed readers' two ends."""
    s = snapshot(path, from_version)
    before, before_dvs = set(s.files), {f: list(d) for f, d in s.dvs.items()}
    return _advance(path, s, to_version), before, before_dvs


def read_row_changes(spark: SparkSession, path: str, key: str,
                     from_version: int, to_version: int) -> DataFrame:
    """ROW-LEVEL change-data-feed: pre/post images between two
    versions, composed from the file-granular primitive by pairing
    removed and added files on the table key (the design
    `read_changes` documents). Emits Delta-CDF-shaped rows — every
    table column plus `_change_type`:

    - `insert`           — key only in the after-image
    - `delete`           — key only in the before-image (the pre-image row)
    - `update_preimage`  — key in both, any column changed (old row)
    - `update_postimage` — key in both, any column changed (new row)

    Carried-over rows (same key, identical values — the bulk of every
    COW rewrite) are filtered out by an exact full-row struct compare.
    Cost is bounded by the touched files, never the table: both sides
    read only files the version range added/removed, and the
    full-outer join keys on the table key those files are
    range-bucketed by."""
    latest = current_version(path)
    if not (0 <= from_version <= to_version <= latest):
        raise ValueError(f"bad version range [{from_version}, {to_version}]")
    s, before_set, before_dvs = _snapshot_pair(path, from_version, to_version)
    after_set, after_dvs = s.files, s.dvs
    # a file present on both sides whose DV set changed is LOGICALLY
    # rewritten: it joins both the pre side (its from-version live
    # rows) and the post side (its to-version live rows), so the
    # full-outer pairing below emits the DV-deleted rows as `delete`
    # pre-images — the same machinery COW rewrites flow through
    dv_changed = sorted(
        f
        for f in after_set & before_set
        if before_dvs.get(f, []) != after_dvs.get(f, [])
    )
    removed = sorted(before_set - after_set) + dv_changed
    added = sorted(after_set - before_set) + dv_changed
    template = _read_snapshot(spark, path, s)
    cols = template.columns
    if not removed and not added:
        return template.limit(0).withColumn("_change_type", F.lit(""))

    def _load(rel_files: list[str], dvs: dict[str, list[str]]) -> DataFrame:
        # BOTH sides replay at to_version's schema (Delta CDF presents
        # changes in the latest schema): a column renamed inside the
        # range maps the pre-image files' old physical name onto the
        # new logical one, an added column reads as NULL in pre-images
        if not rel_files:
            return template.limit(0)
        df = _scan(spark, path, rel_files)
        df = _apply_dvs(spark, path, df, rel_files, _dv_files_for(dvs, rel_files))
        return _replay_schema(df, s.acts, s.logical_cols)

    pre = _load(removed, before_dvs)
    post = _load(added, after_dvs)
    pre_cols = [c for c in cols if c in pre.columns]
    b = pre.select(
        F.col(key).alias("_k"), F.struct(*[F.col(c) for c in pre_cols]).alias("_pre")
    )
    a = post.select(
        F.col(key).alias("_k"), F.struct(*[F.col(c) for c in cols]).alias("_post")
    )
    j = b.join(a, "_k", "full_outer")
    inserts = j.filter(F.col("_pre").isNull()).select(
        *[F.col("_post").getField(c).alias(c) for c in cols],
        F.lit("insert").alias("_change_type"),
    )
    deletes = j.filter(F.col("_post").isNull()).select(
        *[
            (F.col("_pre").getField(c) if c in pre_cols else F.lit(None)).alias(c)
            for c in cols
        ],
        F.lit("delete").alias("_change_type"),
    )
    # changed = any column differs (null-safe compare on the shared
    # columns; a column added by schema evolution counts as changed
    # only if the post value is non-null)
    diff = ~F.struct(
        *[F.col("_pre").getField(c) for c in pre_cols]
    ).eqNullSafe(F.struct(*[F.col("_post").getField(c) for c in pre_cols]))
    for c in cols:
        if c not in pre_cols:
            diff = diff | F.col("_post").getField(c).isNotNull()
    changed = j.filter(F.col("_pre").isNotNull() & F.col("_post").isNotNull()).filter(diff)
    upd_pre = changed.select(
        *[
            (F.col("_pre").getField(c) if c in pre_cols else F.lit(None)).alias(c)
            for c in cols
        ],
        F.lit("update_preimage").alias("_change_type"),
    )
    upd_post = changed.select(
        *[F.col("_post").getField(c).alias(c) for c in cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return inserts.unionByName(deletes).unionByName(upd_pre).unionByName(upd_post)


def vacuum(path: str, keep_versions: int = 1,
           min_file_age_seconds: float = 0.0,
           dry_run: bool = False) -> list[str]:
    """VACUUM: physically delete data files NOT referenced by any of
    the latest `keep_versions` versions (time travel inside the window
    survives, older versions become unreadable by design; same
    contract as Delta's VACUUM). Returns the deleted file list;
    `dry_run=True` returns the would-delete list WITHOUT removing
    anything (Delta's `VACUUM ... DRY RUN` — the operator's
    check-before-reclaim step).

    The dead set comes from LISTING `data/` and subtracting the
    retained versions' file sets — not from replaying "add" lists —
    so it also reclaims files whose log entries `checkpoint_log`
    squashed away, and the orphaned data files of writers that lost
    the optimistic-concurrency race (their files exist under a unique
    subdirectory but appear in no committed log entry). Driver cost is
    the data/ listing — the same order as the file lists the scanner
    holds anyway; no data is read.

    IN-FLIGHT-WRITER SAFETY (two independent guards): an OCC writer
    writes its data files BEFORE its atomic log commit, so a vacuum
    racing it would otherwise see those files as unreferenced, delete
    them, and let the commit land referencing missing files — a
    corrupt table. (1) Data subdirectories whose `v<N>-` version
    prefix EXCEEDS the committed version at vacuum start are skipped
    outright: a writer that can still WIN its commit always targets
    `current_version()+1` or later (a writer targeting ≤ current has
    already lost — its commit is guaranteed CommitConflictError and
    its files are true orphans, safe to reclaim). This closes the
    corruption window deterministically, with no clock assumptions.
    (2) `min_file_age_seconds` additionally age-guards everything
    else (Delta's mechanism; Delta defaults to 7 days) — belt for
    the suspenders, e.g. non-standard subdirectory names."""
    latest = current_version(path)
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    horizon = max(0, latest - keep_versions + 1)
    live: set[str] = set()
    s = snapshot(path, horizon)
    for v in range(horizon, latest + 1):
        _advance(path, s, v)  # one fold walks the retained window
        live |= s.files
        # deletion-vector parquets referenced by a retained version
        # are part of that version's read path — as live as its data
        live |= {dv for lst in s.dvs.values() for dv in lst}
    data_root = os.path.join(path, _DATA)
    now = time.time()
    dead: list[str] = []
    for dirpath, dirnames, filenames in os.walk(data_root):
        if dirpath == data_root:
            # guard (1): prune attempt dirs targeting an uncommitted
            # future version — an in-flight writer that can still win
            dirnames[:] = [
                d for d in dirnames if _sub_version(d) is None or _sub_version(d) <= latest
            ]
        for f in filenames:
            if not f.endswith(".parquet"):
                continue
            abs_p = os.path.join(dirpath, f)
            rel = os.path.relpath(abs_p, path)
            if rel in live:
                continue
            if now - os.path.getmtime(abs_p) < min_file_age_seconds:
                continue
            if not dry_run:
                os.remove(abs_p)
            dead.append(rel)
    if not dry_run:
        for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
            if dirpath != data_root and not dirnames and not filenames:
                os.rmdir(dirpath)
    # orphaned parquet-checkpoint sidecar dirs: a re-squash writes a
    # new `<v>.checkpoint-<uuid>` dir and atomically re-points the
    # entry; the superseded dir (and dirs of squashed-away versions)
    # stay on disk for in-flight readers and are reclaimed here behind
    # the same age guard as data files
    referenced = set()
    for _v_, e_ in _iter_log_entries(path):
        s_ = e_.get("checkpoint_parquet")
        if s_:
            referenced.add(s_)
    logd = _log_dir(path)
    from bigdata06_spark import lakehouse_manifest as _M

    for n in sorted(os.listdir(logd)):
        d = os.path.join(logd, n)
        if (".checkpoint-" not in n or n in referenced
                or not os.path.isdir(d)):
            continue
        # an IN-FLIGHT checkpoint_log writes its sidecar BEFORE the
        # atomic entry swap, so a just-written dir is legitimately
        # unreferenced for a moment — sweep only past the same
        # in-flight guard the manifest dirs use (review r9: the bare
        # min_file_age default of 0 would let a concurrent vacuum
        # delete the sidecar a committing writer is about to point
        # at, which bricks the table since the squashed history is
        # already gone)
        if now - os.path.getmtime(d) < max(min_file_age_seconds,
                                           _M._SWEEP_AGE_SEC):
            continue
        dead.append(os.path.relpath(d, path))
        if not dry_run:
            import shutil

            shutil.rmtree(d, ignore_errors=True)
    # superseded snapshot-manifest dirs (refresh_manifest defers their
    # deletion behind an age guard so in-flight readers finish; vacuum
    # is the designated reclaimer)
    try:
        from bigdata06_spark import lakehouse_manifest as M

        meta = M.manifest_meta(path)
        if meta is not None:
            mf_root = M._mf_root(path)
            for n in sorted(os.listdir(mf_root)):
                d = os.path.join(mf_root, n)
                if (not n.startswith("m") or d == meta.get("dir")
                        or not os.path.isdir(d)):
                    continue
                # never sweep younger than refresh's own in-flight-
                # reader guard: a default (age 0) VACUUM right after a
                # refresh would otherwise delete the old dir a reader
                # that loaded the OLD meta is still scanning
                if now - os.path.getmtime(d) < max(min_file_age_seconds,
                                                   M._SWEEP_AGE_SEC):
                    continue
                dead.append(os.path.relpath(d, path))
                if not dry_run:
                    import shutil

                    shutil.rmtree(d, ignore_errors=True)
    except Exception:
        pass  # derived cache — never fail a vacuum over it
    return sorted(dead)


def checkpoint_log(path: str, at_version: int | None = None,
                   parquet: bool = True) -> int:
    """LOG CHECKPOINTING: squash versions 0..V into one snapshot
    entry (the full file list of version V), so readers replay
    O(versions since checkpoint) instead of the whole history —
    Delta's checkpoint-parquet / Iceberg's snapshot list. Later
    version files are untouched; earlier per-version time travel
    collapses onto the squashed snapshot (pair with `vacuum`, which
    removes their files anyway). Returns V.

    `parquet=True` (default, round 9 — Delta's actual checkpoint
    format): the PER-FILE BULK (file list, stats, blooms, DVs, plus
    manifest-aligned partition/stats/bloom columns) streams to a
    columnar sidecar dir `{V}.checkpoint-<uuid>/` next to the log,
    and the JSON entry keeps only table-level metadata plus a
    `checkpoint_parquet` pointer. Readers hydrate the bulk on demand
    (`_read_entry`); metadata-only lookups never load it, and the
    manifest full rebuild consumes the sidecar RELATIONALLY (no
    driver-side dict of a million files at all). `parquet=False`
    writes the legacy single-JSON checkpoint."""
    latest = current_version(path)
    v = latest if at_version is None else at_version
    if not (0 <= v <= latest):
        raise ValueError(f"version {v} not in [0, {latest}]")
    # resolve ALL table metadata BEFORE deleting the entries holding
    # it — one snapshot, one parse of the log
    st = snapshot(path, v)
    files, dvs = sorted(st.files), st.dvs
    acts = st.acts
    base_cols = st.base_cols
    pby = st.pby
    scols_pre = st.scols
    stats_pre = st.stats if scols_pre else {}
    bloom_pre = st.bloom
    blooms_pre = st.blooms if bloom_pre else {}
    gen_pre = st.generated
    ident_pre = st.identity
    txns_pre = st.txns
    copies_pre = st.copy_sources
    cons_pre = st.constraints
    zmeta_pre = st.zorder
    entry = {
        "remove": [],
        "checkpoint": True,
        "op": "CHECKPOINT",
        "ts": time.time(),  # squashed versions resolve here for AS-OF
        # schema-action history re-emitted so the replay (adds,
        # renames, drops) survives the squash
        "schema_actions_set": acts,
    }
    if base_cols:
        entry["schema_cols"] = base_cols
    if cons_pre:
        # live CHECK constraints re-emitted likewise
        entry["constraints"] = cons_pre
    if pby:
        # partition spec re-emitted likewise
        entry["partition_by"] = pby
    if scols_pre:
        # stats spec survives the squash too
        entry["stats_cols"] = scols_pre
    if bloom_pre:
        # bloom spec likewise
        entry["bloom"] = bloom_pre
    if parquet:
        # the per-file bulk streams to a columnar sidecar; the JSON
        # keeps the pointer (hydrated on demand by _read_entry)
        from bigdata06_spark import lakehouse_manifest as M

        bcols = list(bloom_pre["cols"]) if bloom_pre else []
        side = f"{v}.checkpoint-{uuid.uuid4().hex[:8]}"
        M.write_checkpoint_sidecar(
            os.path.join(_log_dir(path), side), files, stats_pre,
            dvs, pby, scols_pre, bcols, blooms_pre,
        )
        entry["checkpoint_parquet"] = side
    else:
        entry["add"] = files
        if dvs:
            # live deletion-vector map re-emitted so MOR reads survive
            entry["dvs"] = dvs
        if pby:
            # per-file partition values re-emitted likewise
            entry.update(_entry_partition_meta(files))
        if scols_pre:
            # surviving files' stats survive the squash too
            entry["stats"] = stats_pre
        if bloom_pre:
            # surviving files' blooms likewise
            entry["blooms"] = blooms_pre
    if gen_pre:
        # generated-column expressions likewise
        entry["generated"] = gen_pre
    if ident_pre:
        # identity spec + high watermark likewise
        entry["identity"] = ident_pre
    if zmeta_pre:
        # frozen clustering grid + live clustered set likewise
        entry["zorder"] = {
            **zmeta_pre,
            "clustered": [f for f in zmeta_pre["clustered"]
                          if f in st.files],
        }
    if txns_pre:
        # idempotent-transaction ledger likewise
        entry["txns"] = txns_pre
    if copies_pre:
        # COPY INTO source-file ledger likewise
        entry["copy_sources"] = sorted(copies_pre)
    # ATOMIC replace (fsynced temp + rename), not an in-place
    # overwrite: checkpoint deliberately REPLACES an existing committed
    # entry (squash-in-place), so create-if-absent doesn't apply — but
    # a reader replaying the log concurrently must see either the old
    # or the new entry, never a torn write, and the new body must be
    # on disk before the history below is deleted. POSIX rename is the
    # atomic swap (Delta writes checkpoint files the same way).
    _publish_json(os.path.join(_log_dir(path), f"{v}.json"), entry,
                  exclusive=False)
    # squashed-entry removal comes LAST (review r10): the sidecar
    # stream + entry swap above must complete before any history is
    # destroyed — a crash mid-sidecar with the 0..v-1 entries already
    # gone would leave v.json as the old DELTA entry over a deleted
    # history (unreplayable table). After the swap, removal is safe in
    # any crash window: replay of (old entries + new checkpoint v.json)
    # equals replay of the checkpoint alone (the checkpoint entry
    # RESETS file/DV/stats state and re-emits every spec), and a
    # retried checkpoint simply redoes the idempotent removals.
    for old in range(v):
        old_p = os.path.join(_log_dir(path), f"{old}.json")
        if os.path.exists(old_p):
            os.remove(old_p)
    return v


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY (Delta's operation audit log): one row per
    surviving log entry — version, commit timestamp, operation name,
    files added/removed, and the operation's detail payload as a JSON
    string. Reads ONLY the log (O(versions since checkpoint), no data
    files); entries written before operation tagging existed infer
    their operation from the entry's signature keys. Newest first,
    like Delta."""
    latest = current_version(path)
    if latest < 0:
        raise ValueError(f"no lakehouse table at {path}")
    rows = []
    for v in range(latest + 1):
        entry = _read_entry(path, v, bulk=("add",))
        if entry is None:  # squashed away
            continue
        op = entry.get("op")
        if op is None:  # legacy entry: infer from signature keys
            if "cloned_from" in entry:
                op = "CLONE"
            elif "restore_of" in entry:
                op = "RESTORE"
            elif entry.get("checkpoint"):
                op = "CHECKPOINT"
            elif "dv_add" in entry:
                op = "UPDATE" if entry.get("add") else "DELETE"
            elif "schema_add" in entry:
                op = "ADD COLUMN"
            elif "schema_rename" in entry:
                op = "RENAME COLUMN"
            elif "schema_drop" in entry:
                op = "DROP COLUMN"
            elif "constraint_add" in entry:
                op = "ADD CONSTRAINT"
            elif "constraint_drop" in entry:
                op = "DROP CONSTRAINT"
            elif v == 0:
                op = "WRITE"
            else:
                op = "MERGE"
        detail = {
            k: entry[k]
            for k in ("restore_of", "cloned_from", "schema_add", "schema_adds",
                      "schema_rename", "schema_drop", "constraint_add",
                      "constraint_drop", "partition_by")
            if k in entry
        }
        rows.append((
            v,
            float(entry.get("ts", 0.0)),
            op,
            len(entry.get("add", [])),
            len(entry.get("remove", [])),
            json.dumps(detail, sort_keys=True) if detail else None,
        ))
    rows.sort(key=lambda r: -r[0])
    return spark.createDataFrame(
        rows,
        "version long, timestamp double, operation string, "
        "n_added long, n_removed long, operation_details string",
    )


def overwrite_where(spark: SparkSession, path: str, key: str,
                    data: DataFrame, predicate=None,
                    partitions: dict | None = None,
                    n_files: int = 1) -> int:
    """REPLACE WHERE (Delta's `replaceWhere` overwrite): atomically
    swap the rows matching `predicate` (or the files of the named
    `partitions`) with `data`, in ONE commit — the backfill primitive
    for partitioned fact tables (recompute one day, swap it in; the
    table never shows a half-replaced state, and time travel keeps
    the old day).

    Two region shapes:
    - `partitions={col: value-or-values}` — O(partition): the removed
      set comes from the LOG's partition values, no data scanned
      beyond validating+writing `data`.
    - `predicate` (Column or SQL string, on the logical schema) — the
      general form: one per-file any-match scan finds the affected
      files, their non-matching rows carry into the rewrite
      (replaced region = rows where the predicate is TRUE; NULL
      evaluations keep the row, same as Delta).

    `data` must fall entirely INSIDE the region (loud error
    otherwise — Delta's replaceWhere constraint check). Generated
    columns recompute on `data`; CHECK constraints validate; stats/
    blooms collect for the new files; spent DVs of replaced files
    drop with them. Returns the new version."""
    if (predicate is None) == (partitions is None):
        raise ValueError("pass exactly one of predicate= or partitions=")
    s = snapshot(path)
    prev_v = s.version
    if prev_v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    rel_files, dvs, pby = sorted(s.files), s.dvs, s.pby
    data = _apply_generated(data, s.generated)
    ident = s.identity
    _reject_identity_col(ident, [data], "replacement data")
    # same schema discipline as merge: unknown columns are a loud
    # error (replaceWhere does not evolve the schema), and RETIRED
    # physical names may not be re-written — old files still carry
    # values under them, and the rename replay would coalesce the
    # resurrected column into the live one
    cur_cols = set(_read_snapshot(spark, path, s).columns)
    unknown = sorted(set(data.columns) - cur_cols)
    if unknown:
        raise ValueError(
            f"replacement data carries columns not in the table schema "
            f"{unknown}; replaceWhere does not evolve the schema — use "
            "merge(merge_schema=True)"
        )
    clash = sorted(set(data.columns) & _retired_names(s.acts))
    if clash:
        raise ValueError(
            f"columns {clash} were retired by an earlier rename/drop; "
            "writing them would resurrect stale data"
        )
    constraints = s.constraints
    new_v = prev_v + 1
    sub = _new_sub(new_v)
    out_dir = os.path.join(path, _DATA, sub)

    if partitions is not None:
        if not pby:
            raise ValueError("partitions= given but the table is unpartitioned")
        removed = [f for f in rel_files if _matches_partition(f, partitions)]
        # Delta's replaceWhere constraint: data must lie inside the region
        vals = {
            c: {v} if not isinstance(v, (list, tuple, set)) else {str(x) for x in v}
            for c, v in partitions.items()
        }
        outside = data
        for c, vs in vals.items():
            outside = outside.filter(~F.col(c).cast("string").isin([str(x) for x in vs]))
        n_out = outside.limit(1).count()
        if n_out:
            raise ValueError(
                f"data contains rows outside the replaced partitions "
                f"{partitions} (replaceWhere constraint)"
            )
        keep = None
    else:
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        n_out = data.filter(~F.coalesce(cond, F.lit(False))).limit(1).count()
        if n_out:
            raise ValueError(
                "data contains rows outside the replaced predicate region "
                "(replaceWhere constraint)"
            )
        raw = _scan(spark, path, rel_files)
        raw = _replay_schema(raw, s.acts, s.logical_cols)
        hit = (
            raw.groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.max(F.coalesce(cond, F.lit(False)).cast("int")).alias("any"))
            .filter("any = 1")
            .collect()
        )
        prev_set = set(rel_files)
        removed = sorted(_rel_of_uri(r.f, prev_set) for r in hit)
        if removed:
            kdf = _scan(spark, path, removed)
            kdf = _apply_dvs(spark, path, kdf, removed,
                             _dv_files_for(dvs, removed))
            kdf = _replay_schema(kdf, s.acts, s.logical_cols)
            keep = kdf.filter(~F.coalesce(cond, F.lit(False)))
        else:
            keep = None

    n_data = 0
    if ident:
        n_data = data.count()
        data = _assign_identity(data, ident, key)
    out = data if keep is None else keep.unionByName(
        data, allowMissingColumns=True
    )
    _validate_constraints(out, constraints, "overwrite_where")
    if pby:
        _write_partitioned(out, out_dir, key, max(1, n_files), pby)
    else:
        (
            out.repartitionByRange(max(1, n_files), F.col(key))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    adds = _list_data_files(path, sub)
    entry: dict = {"add": adds, "remove": removed, "op": "REPLACE WHERE"}
    entry.update(_entry_partition_meta(adds))
    entry.update(_entry_stats_blooms(spark, path, adds, s))
    if ident and n_data:
        entry["identity"] = {
            **ident, "high": ident["high"] + ident["step"] * n_data,
        }
    _commit_log(path, new_v, entry)
    return new_v
