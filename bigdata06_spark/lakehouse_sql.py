"""SQL statement surface for lakehouse tables — `MERGE INTO`,
`UPDATE`, `DELETE FROM`, `VACUUM`, `OPTIMIZE ... ZORDER BY`,
`DESCRIBE HISTORY`, `RESTORE TABLE`, and `CREATE TABLE ... USING
lakehouse`, the statements a Delta user types — dispatched onto the
library writers (`lakehouse.merge` / `update_where` / `delete_where`
/ ...), with everything else passed through to `spark.sql`.

Why a front end instead of the session catalog: Spark 4.x drops a
Python DataSource's options between CREATE TABLE and the scan —
`PythonTable` keeps only (source, name, schema), so a catalog
`SELECT` re-instantiates the source with EMPTY options and the table
path is unrecoverable (verified against the shipped
`PythonDataSourceV2.getTable`; file-backed JVM sources smuggle the
path inside the Table instance, which the Python bridge does not).
`entry_points.sql()` therefore owns statement routing: lakehouse DDL
registers the table as a temp view + a name→(path, key) registry
entry, so subsequent plain-`spark.sql` SELECTs — and this module's
DML — address it by name. Views are re-registered after every DML
statement, so a reader never sees a stale snapshot through the name.

Grammar (the documented subset; anything outside it raises):

    CREATE [OR REPLACE] TABLE <name> USING lakehouse
        [TBLPROPERTIES ('key' [=] '<keycol>')]
        [PARTITIONED BY (c1, ...)]
        LOCATION '<path>'
        [AS <query>]                       -- CTAS via table_init
    MERGE INTO <tbl> [AS] <t> USING <name | (subquery)> [AS] <s>
        ON <t>.<k> = <s>.<k> [AND <t>.<k2> = <s>.<k2> ...]
                          -- composite keys: must include the
                          -- clustering key; rows match on ALL
        { WHEN MATCHED [AND <cond>] THEN { UPDATE SET * |
                                           UPDATE SET c = expr, ... |
                                           DELETE } } ...
        { WHEN NOT MATCHED [AND <cond>] THEN
              INSERT { * | (c1, ...) VALUES (e1, ...) } } ...
        { WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
              { DELETE | UPDATE SET c = expr, ... } } ...
    UPDATE <tbl> SET c = expr, ... [WHERE <cond>]
    DELETE FROM <tbl> [WHERE <cond>]
    INSERT INTO <tbl> [(c1, ...)] { VALUES ... | SELECT ... }
    INSERT INTO <tbl> REPLACE WHERE <cond> { VALUES ... | SELECT ... }
                                       -- atomic region swap
    INSERT OVERWRITE [TABLE] <tbl> [(c1, ...)] { VALUES ... | SELECT ... }
    VACUUM <tbl> [RETAIN <n> VERSIONS] [DRY RUN]
    OPTIMIZE <tbl> [WHERE <partition predicate>]
                   [ZORDER BY (c1, c2, ...) | INCREMENTAL]
    SHOW PARTITIONS <tbl>
    DESCRIBE HISTORY <tbl> [LIMIT <n>]
    RESTORE TABLE <tbl> TO { VERSION AS OF <n> |
                             TIMESTAMP AS OF '<ts>' }
    REORG TABLE <tbl> APPLY (PURGE)    -- DV purge: rewrite only
                                       -- deletion-vector files
    CONVERT TO LAKEHOUSE parquet.`/dir` [STATS (c1, ...)]
                                       -- zero-copy in-place adoption
    COPY INTO <tbl> FROM '<dir-or-glob>' [FILEFORMAT = PARQUET|CSV|JSON]
    TRUNCATE TABLE <tbl>
    SHOW TBLPROPERTIES <tbl>
    ANALYZE TABLE <tbl> COMPUTE STATISTICS [FOR ALL COLUMNS]
    CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF <n>]
        LOCATION '<path>'
    SELECT ... FROM <tbl> VERSION AS OF <n> ...         -- time travel,
    SELECT ... FROM <tbl> TIMESTAMP AS OF '<ts>' ...    -- joins/CTEs too

`<tbl>` is a registry name (from CREATE TABLE here) or an inline
``lakehouse.`/path/to/table` `` reference. MERGE follows Delta's
clause semantics: clauses apply first-match-wins, `UPDATE SET *` /
`INSERT *` map columns by name. The MATCHED classification is plain
DataFrame algebra over the current snapshot (semi/anti joins on the
key), then ONE `lakehouse.merge` commit applies all legs atomically.

Reference parity: the reference has no SQL layer at all (its
"queries" are pandas method chains, 01_TestingPy/Spotify_API.py:
42-165); this module exists for Spark-side parity with the Delta
Lake statement surface its users would expect.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata06_spark import lakehouse as LH

# name (lowercased) -> {"path": str, "key": str | None}
_TABLES: dict[str, dict] = {}


def _version_df(spark: SparkSession, version: int) -> DataFrame:
    return spark.createDataFrame([(int(version),)], "version long")


def register_table(spark: SparkSession, name: str, path: str,
                   key: str | None = None) -> None:
    """Bind `name` to a lakehouse table path (+ its clustering key,
    needed by MERGE/UPDATE/OPTIMIZE) and (re-)register the temp view
    over the CURRENT version."""
    _TABLES[name.lower()] = {"path": path, "key": key}
    _refresh_view(spark, name)


def _log_fingerprint(path: str) -> tuple:
    """Order-stable fingerprint of the table's _log listing. Changes
    on every commit (new entry), checkpoint squash (entries removed,
    v.json mtime bumped by the atomic replace), and vacuum (sidecar
    dirs removed) — the full set of events that can change what a
    pinned version resolves to. A listing that FAILS (a scandir/stat
    racing a concurrent squash, transient EACCES) returns a
    never-matching token — two errored fingerprints must not compare
    equal, or a stale pinned view could be served across the very
    squash that raced the listing (review r10)."""
    import uuid as _uuid

    logd = LH._log_dir(path)
    try:
        with os.scandir(logd) as it:
            return tuple(sorted(
                (e.name, e.stat().st_mtime_ns) for e in it
            ))
    except OSError:
        return ("_fp_error", _uuid.uuid4().hex)


def _view_cache(spark: SparkSession) -> dict:
    """Session-scoped registry of which (path, version) each lakehouse
    temp view currently wraps — temp views are session-scoped, so the
    cache lives on the session object and dies with it."""
    c = getattr(spark, "_lh_view_cache", None)
    if c is None:
        c = {}
        spark._lh_view_cache = c
    return c


def _refresh_view(spark: SparkSession, name: str) -> None:
    """(Re-)register `name` over the table's CURRENT version — but
    skip the rebuild when the existing view already wraps exactly that
    version (review r10: `read_version` is not free — planning folds
    the log and walks every surviving file's footer, so re-CREATE-ing
    an unchanged table on every warm statement re-paid O(files) work;
    a version is immutable state, so same (path, version) ⇒ same
    plan). Any commit bumps current_version and invalidates.

    The cache key ALSO carries `_log_fingerprint` (ADVICE r10): the
    (path, version) pair alone relies on the invariant that every
    head-state-changing op bumps current_version (true today —
    checkpoint squash is replay-equivalent), but a future op that
    rewrote head files without a version bump would serve a stale
    plan. The fingerprint — one scandir, orders of magnitude cheaper
    than the O(files) footer reads the cache avoids — makes the AS-OF
    path's guard cover the current-version path too."""
    ent = _TABLES[name.lower()]
    v = LH.current_version(ent["path"])
    if v < 0:
        return
    cache = _view_cache(spark)
    key = ("tbl", name.lower())
    state = (ent["path"], v, _log_fingerprint(ent["path"]))
    if cache.get(key) == state and spark.catalog.tableExists(name):
        return
    LH.read_version(spark, ent["path"], v).createOrReplaceTempView(name)
    cache[key] = state


def _resolve(ref: str) -> tuple[str, str | None, str | None]:
    """Table reference → (path, key-or-None, registry-name-or-None).
    Accepts a registry name or ``lakehouse.`/path```."""
    ref = ref.strip()
    m = re.fullmatch(r"lakehouse\.`([^`]+)`", ref, re.IGNORECASE)
    if m:
        return m.group(1), None, None
    ent = _TABLES.get(ref.strip("`").lower())
    if ent is None:
        raise ValueError(
            f"unknown lakehouse table {ref!r}: CREATE TABLE ... USING "
            "lakehouse LOCATION it first (or use lakehouse.`/path`)"
        )
    return ent["path"], ent["key"], ref.strip("`").lower()


def _need_key(key: str | None, ref: str, what: str) -> str:
    if not key:
        raise ValueError(
            f"{what} needs the table's clustering key; declare it at CREATE "
            f"time — TBLPROPERTIES ('key' '<col>') — for {ref!r}"
        )
    return key


def _kw_at_depth0(s: str, pattern: str) -> list[int]:
    """Start offsets of regex `pattern` occurrences at paren depth 0
    and outside quoted strings or `backtick identifiers` —
    keyword-splitting that doesn't get fooled by subqueries, literals,
    or quoted column names containing keywords. (Doubled-quote escapes
    ''like this'' scan correctly as adjacent literals.)"""
    out: list[int] = []
    depth = 0
    quote: str | None = None
    i = 0
    rx = re.compile(pattern, re.IGNORECASE)
    while i < len(s):
        c = s[i]
        if quote:
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(s, i)
            if m:
                out.append(i)
                i = m.end()
                continue
        i += 1
    return out


def _split_clauses(s: str, pattern: str) -> list[str]:
    offs = _kw_at_depth0(s, pattern) + [len(s)]
    return [s[a:b].strip() for a, b in zip(offs, offs[1:])]


def _split_depth0_commas(s: str) -> list[str]:
    """Split on commas at paren depth 0 outside quotes/backticks —
    the VALUES-list splitter (expressions may contain calls and
    literal commas)."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    start = 0
    for i, c in enumerate(s):
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _parse_assignments(s: str) -> dict[str, str]:
    """`a = expr, b = expr` → {col: expr-sql}; splits on depth-0
    commas outside quotes/backticks so expressions may contain
    function calls and literal commas."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    start = 0
    for i, c in enumerate(s):
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    out: dict[str, str] = {}
    for p in parts:
        q = p.strip()
        if q.startswith("`"):  # `quoted col` = expr — '=' may appear inside
            end = q.find("`", 1)
            if end < 0 or "=" not in q[end:]:
                raise ValueError(f"malformed SET assignment {q!r}")
            col, expr = q[1:end], q[end + 1:].split("=", 1)[1]
        else:
            col, _, expr = q.partition("=")
            col = col.strip().strip("`")
            # strip an alias qualifier (t.col = ...): SET targets the row
            col = col.split(".")[-1].strip("`")
        if not col or not expr.strip():
            raise ValueError(f"malformed SET assignment {q!r}")
        out[col] = expr.strip()
    return out


# --------------------------------------------------------------- MERGE

_MERGE_RX = re.compile(
    r"MERGE\s+INTO\s+(?P<target>\S+(?:\s*`[^`]+`)?)"
    r"(?:\s+AS)?\s+(?P<talias>[A-Za-z_]\w*)\s+USING\s+",
    re.IGNORECASE,
)


def _sql_merge(spark: SparkSession, stmt: str) -> DataFrame:
    m = _MERGE_RX.match(stmt)
    if not m:
        raise ValueError(
            "MERGE INTO requires explicit target and source aliases: "
            "MERGE INTO <tbl> t USING <src> s ON t.k = s.k ..."
        )
    target_ref, talias = m.group("target"), m.group("talias")
    rest = stmt[m.end():]

    on_off = _kw_at_depth0(rest, r"\bON\b")
    if not on_off:
        raise ValueError("MERGE INTO is missing its ON clause")
    src_part, on_rest = rest[: on_off[0]].strip(), rest[on_off[0] + 2:]

    sm = re.fullmatch(r"(?P<src>\(.*\)|\S+)(?:\s+AS)?\s+(?P<salias>[A-Za-z_]\w*)",
                      src_part, re.IGNORECASE | re.DOTALL)
    if not sm:
        raise ValueError(f"cannot parse MERGE source {src_part!r}")
    src_sql, salias = sm.group("src"), sm.group("salias")

    when_off = _kw_at_depth0(on_rest, r"\bWHEN\b")
    if not when_off:
        raise ValueError("MERGE INTO has no WHEN clauses")
    on_cond = on_rest[: when_off[0]].strip()
    keys: list[str] = []
    for conj in re.split(r"\bAND\b", on_cond, flags=re.IGNORECASE):
        om = re.fullmatch(
            rf"{talias}\.`?(?P<k1>\w+)`?\s*=\s*{salias}\.`?(?P<k2>\w+)`?"
            rf"|{salias}\.`?(?P<k3>\w+)`?\s*=\s*{talias}\.`?(?P<k4>\w+)`?",
            conj.strip(), re.IGNORECASE,
        )
        if not om or (om.group("k1") or om.group("k4")) != \
                (om.group("k2") or om.group("k3")):
            raise ValueError(
                "MERGE ON must be AND-conjoined same-name equalities "
                f"(t.k = s.k [AND t.k2 = s.k2 ...]), got {on_cond!r}"
            )
        k = om.group("k1") or om.group("k4")
        if k not in keys:
            keys.append(k)

    path, reg_key, reg_name = _resolve(target_ref)
    if reg_key and reg_key not in keys:
        raise ValueError(
            f"MERGE keys on {keys} but the table's clustering key is "
            f"{reg_key!r}; the library merge prunes/rewrites by clustering "
            "key, so the ON clause must include it"
        )
    if reg_key:
        # clustering key FIRST: file-range pruning and write layout
        # run on the leading key
        keys.sort(key=lambda k: k != reg_key)
    key = keys[0]

    clauses = _split_clauses(on_rest[when_off[0]:], r"\bWHEN\b")
    matched: list[tuple[str | None, str, dict | None]] = []  # (cond, kind, sets)
    by_source: list[tuple[str | None, str, dict | None]] = []
    insert_clauses: list[tuple] = []  # (cond, ins_map-or-None)
    for cl in clauses:
        cm = re.fullmatch(
            r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(?P<cond>.*?))?"
            r"\s*THEN\s+(?:(?P<del>DELETE)|UPDATE\s+SET\s+(?P<sets>.*))",
            cl, re.IGNORECASE | re.DOTALL,
        )
        if cm:
            sets = None
            if not cm.group("del"):
                s = cm.group("sets").strip()
                if s == "*":
                    raise ValueError(
                        "NOT MATCHED BY SOURCE has no source row; "
                        "UPDATE SET * is meaningless — name the assignments"
                    )
                sets = _parse_assignments(s)
            by_source.append((cm.group("cond"),
                              "delete" if cm.group("del") else "update", sets))
            continue
        cm = re.fullmatch(
            r"WHEN\s+NOT\s+MATCHED\s*(?:AND\s+(?P<cond>.*?))?\s*THEN\s+"
            r"INSERT\s+(?:\*|\(\s*(?P<icols>[^)]+?)\s*\)\s*"
            r"VALUES\s*\((?P<ivals>.*)\))",
            cl, re.IGNORECASE | re.DOTALL,
        )
        if cm:
            ins_map = None
            if cm.group("icols"):
                # Delta's explicit insert action: INSERT (c1, ...)
                # VALUES (e1, ...) — exprs see the SOURCE row; unnamed
                # target columns insert as NULL
                names = [c.strip().strip("`")
                         for c in cm.group("icols").split(",")]
                vals = _split_depth0_commas(cm.group("ivals"))
                if len(names) != len(vals):
                    raise ValueError(
                        f"INSERT names {len(names)} columns but VALUES "
                        f"carries {len(vals)} expressions")
                missing = [k for k in keys if k not in names]
                if missing:
                    raise ValueError(
                        f"INSERT column list must include the merge key(s); "
                        f"missing {missing}")
                ins_map = dict(zip(names, vals))
            insert_clauses.append((cm.group("cond"), ins_map))
            continue
        cm = re.fullmatch(
            r"WHEN\s+MATCHED\s*(?:AND\s+(?P<cond>.*?))?\s*THEN\s+"
            r"(?:(?P<del>DELETE)|UPDATE\s+SET\s+(?P<sets>.*))",
            cl, re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise ValueError(f"cannot parse MERGE clause {cl!r}")
        sets = None
        if not cm.group("del"):
            s = cm.group("sets").strip()
            sets = {} if s == "*" else _parse_assignments(s)
        matched.append((cm.group("cond"),
                        "delete" if cm.group("del") else "update", sets))

    prev_v = LH.current_version(path)
    tgt = LH.read_version(spark, path, prev_v).alias(talias)
    src = (spark.sql(f"SELECT * FROM {src_sql} __lh_src" if src_sql.startswith("(")
                     else f"SELECT * FROM {src_sql}")).alias(salias)

    on_expr = F.lit(True)
    for k in keys:
        on_expr = on_expr & (F.col(f"{salias}.{k}") == F.col(f"{talias}.{k}"))
    joined = src.join(tgt, on_expr, "inner")
    tgt_cols = tgt.columns

    updates = None
    delete_keys = None
    remaining = F.lit(True)  # first-match-wins across MATCHED clauses
    for cond, kind, sets in matched:
        claim = remaining
        if cond is not None:
            claim = claim & F.coalesce(F.expr(cond), F.lit(False))
        hit = joined.filter(claim)
        if kind == "delete":
            d = hit.select(*[F.col(f"{salias}.{k}").alias(k) for k in keys])
            delete_keys = d if delete_keys is None else delete_keys.unionAll(d)
        else:
            if sets == {}:  # UPDATE SET *: source row wins, by name
                cols = [
                    (F.col(f"{salias}.{c}") if c in src.columns
                     else F.col(f"{talias}.{c}")).alias(c)
                    for c in tgt_cols
                ]
            else:
                cols = [
                    (F.expr(sets[c]) if c in sets
                     else F.col(f"{talias}.{c}")).alias(c)
                    for c in tgt_cols
                ]
                unknown = sorted(set(sets) - set(tgt_cols))
                if unknown:
                    raise ValueError(f"UPDATE SET targets unknown columns "
                                     f"{unknown}")
            u = hit.select(*cols)
            updates = u if updates is None else updates.unionByName(u)
        if cond is not None:
            remaining = remaining & ~F.coalesce(F.expr(cond), F.lit(False))
        else:
            remaining = F.lit(False)

    # NOT MATCHED BY SOURCE (Delta): target rows with no source match;
    # conditions/assignments see only the target row. Same
    # first-match-wins discipline within the clause family.
    if by_source:
        unmatched = tgt.join(
            src.select(*[F.col(f"{salias}.{k}").alias(k) for k in keys]),
            keys, "left_anti"
        )
        remaining_bs = F.lit(True)
        for cond, kind, sets in by_source:
            claim = remaining_bs
            if cond is not None:
                claim = claim & F.coalesce(F.expr(cond), F.lit(False))
            hit = unmatched.filter(claim)
            if kind == "delete":
                d = hit.select(*[F.col(k) for k in keys])
                delete_keys = d if delete_keys is None \
                    else delete_keys.unionAll(d)
            else:
                unknown = sorted(set(sets) - set(tgt_cols))
                if unknown:
                    raise ValueError(
                        f"UPDATE SET targets unknown columns {unknown}")
                u = hit.select(*[
                    (F.expr(sets[c]) if c in sets else F.col(c)).alias(c)
                    for c in tgt_cols
                ])
                updates = u if updates is None else updates.unionByName(u)
            if cond is not None:
                remaining_bs = remaining_bs & ~F.coalesce(F.expr(cond),
                                                          F.lit(False))
            else:
                remaining_bs = F.lit(False)

    inserts = None
    if insert_clauses:
        # several WHEN NOT MATCHED clauses apply FIRST-MATCH-WINS,
        # exactly like the MATCHED family (Delta's multi-insert MERGE)
        unmatched = src.join(
            tgt.select(*[F.col(f"{talias}.{k}").alias(k) for k in keys]),
            keys, "left_anti")
        remaining_i = F.lit(True)
        for cond, ins_map in insert_clauses:
            claim = remaining_i
            if cond is not None:
                claim = claim & F.coalesce(F.expr(cond), F.lit(False))
            hit = unmatched.filter(claim)
            if ins_map is not None:
                unknown = sorted(set(ins_map) - set(tgt_cols))
                if unknown:
                    raise ValueError(
                        f"INSERT names unknown columns {unknown}")
                hit = hit.select(*[
                    F.expr(e).alias(c) for c, e in ins_map.items()
                ])  # unnamed target columns null-fill in merge's leg
            inserts = hit if inserts is None else inserts.unionByName(
                hit, allowMissingColumns=True)
            if cond is not None:
                remaining_i = remaining_i & ~F.coalesce(F.expr(cond),
                                                        F.lit(False))
            else:
                remaining_i = F.lit(False)

    new_v = LH.merge(spark, path, keys if len(keys) > 1 else key,
                     updates=updates, delete_keys=delete_keys,
                     inserts=inserts)
    if reg_name:
        _refresh_view(spark, reg_name)
    return _version_df(spark, new_v)


# ----------------------------------------------------- other statements


def _sql_create(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(
        r"CREATE\s+(?:(?P<replace>OR\s+REPLACE)\s+)?TABLE\s+(?P<name>[\w`.]+)\s+"
        r"USING\s+lakehouse\s*"
        r"(?:TBLPROPERTIES\s*\(\s*'key'\s*=?\s*'(?P<key>\w+)'\s*\)\s*)?"
        r"(?:PARTITIONED\s+BY\s*\(\s*(?P<pby>[^)]+?)\s*\)\s*)?"
        r"LOCATION\s+'(?P<path>[^']+)'\s*"
        r"(?:TBLPROPERTIES\s*\(\s*'key'\s*=?\s*'(?P<key2>\w+)'\s*\)\s*)?"
        r"(?:AS\s+(?P<query>.+))?",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "cannot parse CREATE TABLE; expected: CREATE TABLE <name> USING "
            "lakehouse [TBLPROPERTIES ('key' '<col>')] "
            "[PARTITIONED BY (c1, ...)] LOCATION '<path>' [AS <query>]"
        )
    name = m.group("name").strip("`")
    path = m.group("path")
    key = m.group("key") or m.group("key2")
    pby = None
    if m.group("pby"):
        pby = [c.strip().strip("`") for c in m.group("pby").split(",")]
    query = m.group("query")
    if query:
        df = spark.sql(query)
        key = key or df.columns[0]
        if pby:
            missing = [c for c in pby if c not in df.columns]
            if missing:
                raise ValueError(
                    f"PARTITIONED BY names columns {missing} not in the "
                    "CTAS result")
        if LH.current_version(path) >= 0:
            if not m.group("replace"):
                raise ValueError(
                    f"table already exists at {path!r}; use CREATE OR "
                    "REPLACE to swap its contents as a new version"
                )
            if pby and pby != LH.table_partition_by(path):
                raise ValueError(
                    "CREATE OR REPLACE cannot change the partition layout "
                    f"(table has {LH.table_partition_by(path)}, statement "
                    f"says {pby}); create a new LOCATION instead")
            # OR REPLACE = Delta's replace-as-a-version: contents swap,
            # history stays time-travelable
            LH.overwrite_where(spark, path, key, df, predicate="true")
        else:
            LH.table_init(df, path, key, partition_by=pby)
    elif LH.current_version(path) < 0:
        raise ValueError(
            f"no lakehouse table at {path!r}; add AS <query> to create one"
        )
    elif pby and pby != LH.table_partition_by(path):
        # register-only path (no AS <query>): a PARTITIONED BY clause
        # contradicting the existing table's layout must be as loud as
        # the OR REPLACE CTAS path — silently ignoring it would let a
        # statement document a layout the table doesn't have (advisor
        # r7)
        raise ValueError(
            "PARTITIONED BY does not match the existing table's layout "
            f"(table has {LH.table_partition_by(path)}, statement says "
            f"{pby})")
    register_table(spark, name, path, key)
    return _version_df(spark, LH.current_version(path))


def _sql_update(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.match(
        r"UPDATE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+SET\s+",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse UPDATE statement {stmt!r}")
    rest = stmt[m.end():]
    # WHERE found quote/paren-aware, not by regex: a SET value literal
    # containing ' WHERE ' must not split the statement there
    w = _kw_at_depth0(rest, r"\bWHERE\b")
    sets_sql = rest[: w[0]] if w else rest
    cond_sql = rest[w[0] + 5:].strip() if w else None
    if not sets_sql.strip():
        raise ValueError(f"cannot parse UPDATE statement {stmt!r}")
    path, key, name = _resolve(m.group("tbl"))
    key = _need_key(key, m.group("tbl"), "UPDATE")
    sets = {c: F.expr(e) for c, e in _parse_assignments(sets_sql).items()}
    pred = cond_sql if cond_sql else F.lit(True)
    v = LH.update_where(spark, path, key, sets, pred)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _sql_delete(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(
        r"DELETE\s+FROM\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)"
        r"(?:\s+WHERE\s+(?P<cond>.+))?",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse DELETE statement {stmt!r}")
    path, _key, name = _resolve(m.group("tbl"))
    pred = m.group("cond") if m.group("cond") else F.lit(True)
    v = LH.delete_where(spark, path, pred)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _sql_insert(spark: SparkSession, stmt: str) -> DataFrame:
    """INSERT INTO <tbl> [(cols)] VALUES ... | SELECT ... — Delta's
    blind append (duplicates allowed; dedup is MERGE's job). With a
    registered clustering key the rows go through `lakehouse.append`,
    which maintains every table invariant session-side (generated /
    identity / constraints / partition layout / stats / blooms); an
    inline key-less reference falls back to the DataSource writer and
    inherits its loud-reject contract for such tables. Values bind
    positionally; named column lists null-fill the rest; extra or
    unknown columns are loud."""
    m = re.match(
        r"INSERT\s+(?:INTO|(?P<ovw>OVERWRITE)(?:\s+TABLE)?)\s+"
        r"(?P<tbl>\S+(?:\s*`[^`]+`)?)\s*"
        r"(?:\(\s*(?P<cols>[^)]+?)\s*\)\s*)?",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse INSERT statement {stmt!r}")
    rest = stmt[m.end():]
    # the body starts at the first DEPTH-0 SELECT/VALUES — a REPLACE
    # WHERE condition may itself contain a parenthesized subquery
    # SELECT, which a lazy-regex lookahead would wrongly split on
    body_off = _kw_at_depth0(rest, r"\b(?:SELECT|VALUES)\b")
    if not body_off:
        raise ValueError(f"cannot parse INSERT statement {stmt!r}")
    head, body = rest[: body_off[0]].strip(), rest[body_off[0]:]
    rw = None
    if head:
        hm = re.fullmatch(r"REPLACE\s+WHERE\s+(?P<rw>.+)", head,
                          re.IGNORECASE | re.DOTALL)
        if not hm:
            raise ValueError(f"cannot parse INSERT statement {stmt!r}")
        rw = hm.group("rw").strip()
    if m.group("ovw") and rw:
        raise ValueError(
            "use INSERT OVERWRITE (whole table) or INSERT INTO ... "
            "REPLACE WHERE (predicate region), not both")
    path, key, name = _resolve(m.group("tbl"))
    from bigdata06_spark.sources.lakehouse_datasource import (
        register as _register_ds,
    )

    _register_ds(spark)
    df = spark.sql(body)
    tgt = spark.read.format("lakehouse").load(path).schema
    ident = LH.table_identity(path)
    if ident:
        # the table allocates its identity column; INSERT may not
        # bind it (positionally or by name) — drop it from the target
        tgt = type(tgt)([f for f in tgt.fields if f.name != ident["col"]])
    if m.group("cols"):
        names = [c.strip().strip("`") for c in m.group("cols").split(",")]
    else:
        names = tgt.fieldNames()
    unknown = [c for c in names if c not in tgt.fieldNames()]
    if unknown:
        raise ValueError(f"INSERT names unknown columns {unknown}")
    if len(df.columns) != len(names):
        raise ValueError(
            f"INSERT provides {len(df.columns)} values for {len(names)} "
            f"columns {names}"
        )
    bound = df.toDF(*names)
    out = bound.select(*[
        (F.col(f.name) if f.name in names
         else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in tgt.fields
    ])
    if rw or m.group("ovw"):
        # Delta's INSERT INTO ... REPLACE WHERE / INSERT OVERWRITE:
        # one atomic commit swaps the region (or the whole table) for
        # `out` — time travel keeps the old region, readers never see
        # a half-replaced state
        key = _need_key(key, m.group("tbl"),
                        "REPLACE WHERE / INSERT OVERWRITE")
        pred = rw if rw else "true"
        LH.overwrite_where(spark, path, key, out, predicate=pred)
    elif key:
        LH.append(spark, path, key, out)
    else:
        out.write.format("lakehouse").mode("append").save(path)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, LH.current_version(path))


def _sql_vacuum(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(
        r"VACUUM\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)"
        r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?"
        r"(?:\s+(?P<dry>DRY\s+RUN))?",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse VACUUM statement {stmt!r}")
    path, _key, _name = _resolve(m.group("tbl"))
    if m.group("dry"):
        # Delta's VACUUM ... DRY RUN: list the would-delete set,
        # remove nothing — the operator's check-before-reclaim step
        would = LH.vacuum(path, keep_versions=int(m.group("n") or 1),
                          dry_run=True)
        return spark.createDataFrame([(f,) for f in would] or
                                     [], "path string")
    removed = LH.vacuum(path, keep_versions=int(m.group("n") or 1))
    return spark.createDataFrame(
        [(int(len(removed) if hasattr(removed, "__len__") else removed),)],
        "files_removed long",
    )


def _parse_partition_predicate(cond: str) -> dict:
    """Delta's OPTIMIZE-WHERE grammar: AND-conjoined `col = value` /
    `col IN (v1, v2, ...)` over PARTITION columns only → the library's
    `partitions={col: [values]}`. Values strip quotes (partition
    pruning compares path-encoded strings)."""
    out: dict[str, list[str]] = {}

    def _val(tok: str) -> str:
        tok = tok.strip()
        if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
            return tok[1:-1]
        return tok

    for conj in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
        conj = conj.strip()
        m = re.fullmatch(r"`?(\w+)`?\s*=\s*(\S+)", conj)
        if m:
            out.setdefault(m.group(1), []).append(_val(m.group(2)))
            continue
        m = re.fullmatch(r"`?(\w+)`?\s+IN\s*\(([^)]*)\)", conj,
                         re.IGNORECASE)
        if m:
            out.setdefault(m.group(1), []).extend(
                _val(t) for t in m.group(2).split(","))
            continue
        raise ValueError(
            "OPTIMIZE WHERE supports AND-conjoined partition equality/IN "
            f"predicates only, got {conj!r}"
        )
    return out


def _sql_optimize(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.match(
        r"OPTIMIZE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse OPTIMIZE statement {stmt!r}")
    tail = stmt[m.end():]
    # clause keywords located quote/backtick-aware (advisor r7): a
    # quoted partition value containing ' ZORDER BY (' or
    # ' INCREMENTAL' must not split the WHERE predicate there — same
    # _kw_at_depth0 scanning UPDATE and INSERT use
    w_offs = _kw_at_depth0(tail, r"\bWHERE\b")
    w = w_offs[0] if w_offs else None
    # a ZORDER BY / INCREMENTAL occurrence is only a CLAUSE if the
    # remainder from it parses as that clause to end-of-statement
    # (review r8): an unquoted column named `incremental` — or the
    # words 'zorder by' — inside the WHERE predicate stays predicate
    # text instead of truncating it
    z = next(
        (
            o
            for o in reversed(_kw_at_depth0(tail, r"\bZORDER\s+BY\b"))
            if re.fullmatch(
                r"ZORDER\s+BY\s*\(\s*[^)]+\)\s*", tail[o:],
                re.IGNORECASE | re.DOTALL,
            )
        ),
        None,
    )
    inc = next(
        (
            o
            for o in reversed(_kw_at_depth0(tail, r"\bINCREMENTAL\b"))
            if tail[o:].strip().upper() == "INCREMENTAL"
        ),
        None,
    )
    if z is not None and inc is not None:
        raise ValueError("OPTIMIZE takes ZORDER BY or INCREMENTAL, not both")
    end = len(tail)
    first = min((x for x in (w, z, inc) if x is not None), default=end)
    if tail[:first].strip():
        raise ValueError(f"cannot parse OPTIMIZE statement {stmt!r}")
    where_sql = None
    if w is not None:
        nxt = min((x for x in (z, inc) if x is not None), default=end)
        if nxt < w:
            raise ValueError("OPTIMIZE clauses out of order: WHERE must "
                             "precede ZORDER BY / INCREMENTAL")
        where_sql = tail[w + len("WHERE"):nxt].strip()
        if not where_sql:
            raise ValueError("empty WHERE clause in OPTIMIZE")
    zo = None
    if z is not None:
        mz = re.fullmatch(r"ZORDER\s+BY\s*\(\s*(?P<cols>[^)]+)\)\s*",
                          tail[z:], re.IGNORECASE | re.DOTALL)
        if not mz:
            raise ValueError(f"cannot parse ZORDER BY clause in {stmt!r}")
        zo = [c.strip().strip("`") for c in mz.group("cols").split(",")]
    if inc is not None and tail[inc:].strip().upper() != "INCREMENTAL":
        raise ValueError(f"trailing text after INCREMENTAL in {stmt!r}")
    path, key, name = _resolve(m.group("tbl"))
    if inc is not None:
        if where_sql:
            raise ValueError("OPTIMIZE INCREMENTAL takes no WHERE clause")
        # incremental clustering: fold post-OPTIMIZE files into the
        # frozen grid; no key needed (the grid is the layout)
        v = LH.optimize_zorder_incremental(spark, path)
    else:
        key = _need_key(key, m.group("tbl"), "OPTIMIZE")
        parts = None
        if where_sql:
            # Delta's OPTIMIZE ... WHERE: partition-scoped compaction —
            # only matching partitions' files rewrite, cold partitions
            # carry over by reference
            parts = _parse_partition_predicate(where_sql)
        v = LH.optimize(spark, path, key, zorder_by=zo, partitions=parts)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _sql_history(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(r"DESCRIBE\s+HISTORY\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)"
                     r"(?:\s+LIMIT\s+(?P<n>\d+))?",
                     stmt, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse DESCRIBE HISTORY {stmt!r}")
    path, _key, _name = _resolve(m.group("tbl"))
    hist = LH.describe_history(spark, path)
    if m.group("n"):
        # Delta's LIMIT: the n MOST RECENT commits
        hist = hist.orderBy(F.desc("version")).limit(int(m.group("n")))
    return hist


def _sql_convert(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(
        r"CONVERT\s+TO\s+LAKEHOUSE\s+(?:parquet\.)?`(?P<path>[^`]+)`"
        r"(?:\s+STATS\s+\(\s*(?P<cols>[^)]+)\))?",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse CONVERT statement {stmt!r}")
    cols = None
    if m.group("cols"):
        cols = [c.strip().strip("`") for c in m.group("cols").split(",")]
    v = LH.convert_to_lakehouse(spark, m.group("path"), stats_cols=cols)
    return _version_df(spark, v)


def _sql_restore(spark: SparkSession, stmt: str) -> DataFrame:
    m = re.fullmatch(
        r"RESTORE\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+"
        r"TO\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
        r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse RESTORE statement {stmt!r}")
    path, _key, name = _resolve(m.group("tbl"))
    if m.group("v") is not None:
        to_v = int(m.group("v"))
    else:
        # Delta's RESTORE ... TIMESTAMP AS OF: the latest version
        # committed at-or-before the timestamp (epoch seconds or the
        # formats version_at_timestamp accepts)
        to_v = LH.version_at_timestamp(path, _parse_asof_ts(m.group("ts")))
    v = LH.restore(path, to_v)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _parse_asof_ts(ts: str) -> float:
    """AS-OF timestamp string → epoch seconds: bare epoch floats or
    ISO datetimes (the same forms the SELECT-side rewrite accepts)."""
    try:
        return float(ts)
    except ValueError:
        from datetime import datetime

        return datetime.fromisoformat(ts).timestamp()


def _sql_reorg(spark: SparkSession, stmt: str) -> DataFrame:
    """REORG TABLE <tbl> APPLY (PURGE) — Delta's deletion-vector
    purge: rewrite only the DV-carrying files, materializing the
    soft deletes; O(DV files), never O(table)."""
    m = re.fullmatch(
        r"REORG\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+"
        r"APPLY\s*\(\s*PURGE\s*\)",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse REORG statement {stmt!r}")
    path, key, name = _resolve(m.group("tbl"))
    key = _need_key(key, m.group("tbl"), "REORG")
    v = LH.reorg_purge(spark, path, key)
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _sql_alter(spark: SparkSession, stmt: str) -> DataFrame:
    """ALTER TABLE — the Delta schema-evolution statement set, each
    form a ZERO-REWRITE metadata version via the library's
    schema-action log:
      ALTER TABLE t ADD COLUMN[S] (name type[, ...])   | one version
      ALTER TABLE t RENAME COLUMN a TO b               | per action
      ALTER TABLE t DROP COLUMN c
      ALTER TABLE t ADD CONSTRAINT n CHECK (expr)
      ALTER TABLE t DROP CONSTRAINT n"""
    m = re.match(r"ALTER\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+(?P<rest>.+)",
                 stmt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse ALTER TABLE statement {stmt!r}")
    path, _key, name = _resolve(m.group("tbl"))
    rest = m.group("rest").strip()

    v = None
    am = re.fullmatch(
        r"ADD\s+COLUMNS?\s*\(?\s*(?P<cols>.+?)\s*\)?", rest,
        re.IGNORECASE | re.DOTALL)
    rm = re.fullmatch(
        r"RENAME\s+COLUMN\s+`?(?P<old>\w+)`?\s+TO\s+`?(?P<new>\w+)`?",
        rest, re.IGNORECASE)
    dm = re.fullmatch(r"DROP\s+COLUMN\s+`?(?P<col>\w+)`?", rest, re.IGNORECASE)
    acm = re.fullmatch(
        r"ADD\s+CONSTRAINT\s+`?(?P<name>\w+)`?\s+CHECK\s*\((?P<expr>.+)\)",
        rest, re.IGNORECASE | re.DOTALL)
    dcm = re.fullmatch(r"DROP\s+CONSTRAINT\s+`?(?P<name>\w+)`?",
                       rest, re.IGNORECASE)
    if rm:
        v = LH.rename_column(spark, path, rm.group("old"), rm.group("new"))
    elif dm:
        v = LH.drop_column(spark, path, dm.group("col"))
    elif acm:
        v = LH.add_constraint(spark, path, acm.group("name"),
                              acm.group("expr").strip())
    elif dcm:
        v = LH.drop_constraint(path, dcm.group("name"))
    elif am:
        for part in _split_top_level_commas(am.group("cols")):
            cm = re.fullmatch(r"`?(?P<col>\w+)`?\s+(?P<type>.+)", part.strip(),
                              re.DOTALL)
            if not cm:
                raise ValueError(f"cannot parse ADD COLUMN spec {part!r}")
            v = LH.add_column(path, cm.group("col"), cm.group("type").strip())
    else:
        raise ValueError(f"unsupported ALTER TABLE action {rest!r}")
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _split_top_level_commas(s: str) -> list[str]:
    """'a int, b decimal(10,2)' → ['a int', 'b decimal(10,2)'] —
    commas inside parens (decimal precision) don't split."""
    out, depth, cur = [], 0, []
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        out.append("".join(cur))
    return out


def _sql_detail(spark: SparkSession, stmt: str) -> DataFrame:
    """DESCRIBE DETAIL — Delta's one-row table-metadata summary:
    format, location, current version, file count and byte size,
    partition columns, live deletion-vector count, clustering key,
    stats/bloom columns. Metadata-only (log + file sizes; no data
    I/O)."""
    import os as _os

    m = re.fullmatch(r"DESCRIBE\s+DETAIL\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
                     stmt, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse DESCRIBE DETAIL {stmt!r}")
    path, key, _name = _resolve(m.group("tbl"))
    v = LH.current_version(path)
    if v < 0:
        raise ValueError(f"no lakehouse table at {path}")
    snap = LH.snapshot(path, v)
    files, dvs = snap.files, snap.dvs
    size = 0
    for f in files:
        p = f if _os.path.isabs(f) else _os.path.join(path, f)
        try:
            size += _os.path.getsize(p)
        except OSError:
            pass
    row = (
        "lakehouse", path, int(v), len(files), int(size),
        ",".join(snap.pby),
        sum(len(x) for x in dvs.values()),
        key or "", ",".join(snap.scols),
    )
    return spark.createDataFrame(
        [row],
        "format string, location string, version int, numFiles int, "
        "sizeInBytes bigint, partitionColumns string, "
        "numDeletionVectorFiles int, clusteringKey string, "
        "statsColumns string",
    )


def _sql_generate(spark: SparkSession, stmt: str) -> DataFrame:
    """GENERATE MANIFEST FOR TABLE <t> — Delta's `GENERATE ... FOR
    TABLE` shape, targeting this format's relational snapshot
    manifest (lakehouse_manifest.refresh_manifest): folds the log
    entries since the last manifest (O(files-changed)) or full-builds
    on checkpoint/RESTORE. Returns (version, mode, dir)."""
    from bigdata06_spark import lakehouse_manifest as M

    m = re.fullmatch(
        r"GENERATE\s+MANIFEST\s+FOR\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse GENERATE statement {stmt!r}")
    path, _key, _name = _resolve(m.group("tbl"))
    r = M.refresh_manifest(spark, path)
    return spark.createDataFrame(
        [(int(r["version"]), r["mode"], r["dir"])],
        "version int, mode string, dir string",
    )


def _sql_copy(spark: SparkSession, stmt: str) -> DataFrame:
    """COPY INTO <tbl> FROM '<dir-or-glob>' [FILEFORMAT = PARQUET|CSV|
    JSON] — Delta's idempotent bulk load: only source files whose
    `<abs-path>:<size>` tag is absent from the table's cumulative
    copy ledger load (as ONE append version recording those tags), so
    re-running the statement is a no-op and a grown landing directory
    loads exactly its new files. Returns
    (version, num_files_loaded, num_rows_loaded)."""
    m = re.fullmatch(
        r"COPY\s+INTO\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+"
        r"FROM\s+'(?P<src>[^']+)'"
        r"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(
            "cannot parse COPY INTO; expected: COPY INTO <tbl> FROM "
            "'<dir-or-glob>' [FILEFORMAT = PARQUET|CSV|JSON]"
        )
    path, key, name = _resolve(m.group("tbl"))
    key = _need_key(key, m.group("tbl"), "COPY INTO")
    v, n_files, n_rows = LH.copy_into(
        spark, path, key, m.group("src"), (m.group("fmt") or "parquet")
    )
    if name:
        _refresh_view(spark, name)
    return spark.createDataFrame(
        [(int(v), int(n_files), int(n_rows))],
        "version int, num_files_loaded int, num_rows_loaded bigint",
    )


def _sql_truncate(spark: SparkSession, stmt: str) -> DataFrame:
    """TRUNCATE TABLE <tbl> — delete every live row as a NEW version
    (history stays time-travelable; vacuum reclaims the files)."""
    m = re.fullmatch(r"TRUNCATE\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
                     stmt, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse TRUNCATE statement {stmt!r}")
    path, _key, name = _resolve(m.group("tbl"))
    v = LH.delete_where(spark, path, F.lit(True))
    if name:
        _refresh_view(spark, name)
    return _version_df(spark, v)


def _sql_show_partitions(spark: SparkSession, stmt: str) -> DataFrame:
    """SHOW PARTITIONS <tbl> — the distinct live partition-value
    tuples. Planned through the snapshot manifest when fresh (pushed
    distinct over the p_ columns, collect bounded by partitions);
    driver log-replay fallback otherwise."""
    m = re.fullmatch(r"SHOW\s+PARTITIONS\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
                     stmt, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse SHOW PARTITIONS {stmt!r}")
    path, _key, _name = _resolve(m.group("tbl"))
    pby = LH.table_partition_by(path)
    if not pby:
        raise ValueError(f"{m.group('tbl')!r} is not a partitioned table")
    try:
        from bigdata06_spark import lakehouse_manifest as M

        meta = M.manifest_meta(path)
        if meta is not None and meta["version"] == LH.current_version(path):
            return (
                M.manifest_df(spark, path)
                .select(*[F.col(f"p_{c}").alias(c) for c in pby])
                .distinct().orderBy(*pby)
            )
    except Exception:
        pass
    vals = sorted({
        tuple(LH._pvals_of_rel(f).get(c) for c in pby)
        for f in LH.files_at_version(path, LH.current_version(path))
    })
    return spark.createDataFrame(
        [tuple(v) for v in vals],
        T.StructType([T.StructField(c, T.StringType()) for c in pby]))


def _sql_show_props(spark: SparkSession, stmt: str) -> DataFrame:
    """SHOW TBLPROPERTIES <tbl> — every table-level spec the log
    carries, as (key, value) string rows: location, version,
    clustering key, partition/stats/bloom specs, generated and
    identity columns, CHECK constraints, z-order state."""
    import json as _json

    m = re.fullmatch(r"SHOW\s+TBLPROPERTIES\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)",
                     stmt, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse SHOW TBLPROPERTIES {stmt!r}")
    path, key, _name = _resolve(m.group("tbl"))
    v = LH.current_version(path)
    rows = [("location", path), ("version", str(int(v)))]
    if key:
        rows.append(("key", key))
    pby = LH.table_partition_by(path)
    if pby:
        rows.append(("partition_by", ",".join(pby)))
    scols = LH.table_stats_cols(path)
    if scols:
        rows.append(("stats_cols", ",".join(scols)))
    bloom = LH.table_bloom_meta(path)
    if bloom:
        rows.append(("bloom", _json.dumps(bloom, sort_keys=True)))
    gen = LH.table_generated_cols(path)
    if gen:
        rows.append(("generated", _json.dumps(gen, sort_keys=True)))
    ident = LH.table_identity(path)
    if ident:
        rows.append(("identity", _json.dumps(ident, sort_keys=True)))
    cons = LH.table_constraints(path)
    if cons:
        rows.append(("constraints", _json.dumps(cons, sort_keys=True)))
    zmeta = LH.table_zorder_meta(path)
    if zmeta:
        rows.append(("zorder_by", ",".join(zmeta.get("cols", []))))
    return spark.createDataFrame(rows, "key string, value string")


def _sql_analyze(spark: SparkSession, stmt: str) -> DataFrame:
    """ANALYZE TABLE <tbl> COMPUTE STATISTICS — refresh the
    relational snapshot manifest (per-file stats mirror) to the
    current version; the planner's `plan_files` then prunes from
    parquet instead of re-parsing the JSON log. Returns
    (version, mode, num_files)."""
    from bigdata06_spark import lakehouse_manifest as M

    m = re.fullmatch(
        r"ANALYZE\s+TABLE\s+(?P<tbl>\S+(?:\s*`[^`]+`)?)\s+"
        r"COMPUTE\s+STATISTICS(?:\s+FOR\s+ALL\s+COLUMNS)?",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse ANALYZE statement {stmt!r}")
    path, _key, _name = _resolve(m.group("tbl"))
    r = M.refresh_manifest(spark, path)
    n_files = len(LH.files_at_version(path, int(r["version"])))
    return spark.createDataFrame(
        [(int(r["version"]), r["mode"], int(n_files))],
        "version int, mode string, num_files int",
    )


def _sql_clone(spark: SparkSession, stmt: str) -> DataFrame:
    """CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF <n>]
    LOCATION '<path>' — Delta's zero-copy branch: the clone's v0 is a
    checkpoint entry referencing the source's files by absolute path;
    it diverges independently from there. The clone inherits the
    source's clustering key in the registry."""
    m = re.fullmatch(
        r"CREATE\s+TABLE\s+(?P<name>[\w`.]+)\s+SHALLOW\s+CLONE\s+"
        r"(?P<src>\S+(?:\s*`[^`]+`)?)"
        r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?"
        r"\s+LOCATION\s+'(?P<path>[^']+)'",
        stmt, re.IGNORECASE,
    )
    if not m:
        raise ValueError(
            "cannot parse CLONE; expected: CREATE TABLE <name> SHALLOW "
            "CLONE <src> [VERSION AS OF <n>] LOCATION '<path>'"
        )
    src_path, src_key, _src_name = _resolve(m.group("src"))
    dst = m.group("path")
    ver = int(m.group("v")) if m.group("v") else None
    LH.clone(src_path, dst, ver)
    register_table(spark, m.group("name").strip("`"), dst, src_key)
    return _version_df(spark, LH.current_version(dst))


_ASOF_REF_RX = re.compile(
    r"(?P<ref>lakehouse\.`[^`]+`|[A-Za-z_][\w.]*)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)|"
    r"TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')",
    re.IGNORECASE,
)


def _rewrite_time_travel(spark: SparkSession, stmt: str) -> str:
    """SELECT-side time travel: rewrite every `<tbl> VERSION AS OF
    <n>` / `<tbl> TIMESTAMP AS OF '<ts>'` whose ref resolves to a
    lakehouse table into a temp view over `read_version` at that
    version (timestamps resolve via the log's commit wall clocks,
    Delta's AS-OF rule), leaving everything else — including any
    trailing alias — for `spark.sql`. Works anywhere in the
    statement (joins, CTEs), skipping quoted strings."""
    import hashlib
    from datetime import datetime

    matches = []
    quote: str | None = None
    i = 0
    while i < len(stmt):
        c = stmt[i]
        if quote:
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            i += 1
            continue
        m = _ASOF_REF_RX.match(stmt, i)
        if m:
            matches.append(m)
            i = m.end()
            continue
        i += 1
    for m in reversed(matches):
        try:
            path, _key, name = _resolve(m.group("ref"))
        except ValueError:
            continue  # not a lakehouse ref — leave for spark.sql
        if m.group("v") is not None:
            v = int(m.group("v"))
        else:
            ts = m.group("ts")
            try:
                epoch = float(ts)
            except ValueError:
                epoch = datetime.fromisoformat(ts).timestamp()
            v = LH.version_at_timestamp(path, epoch)
        view = (f"{name or 'lh'}_asof_{v}_"
                f"{hashlib.md5(path.encode()).hexdigest()[:6]}")
        # pinned-version views are immutable, so a repeated AS-OF read
        # reuses the session's existing view instead of re-paying
        # read_version's O(files) footer reads (review r10) — guarded
        # by a fingerprint of the LOG DIRECTORY LISTING, not just the
        # head version: checkpoint squash rewrites v.json in place and
        # removes earlier entries, and vacuum removes sidecar dirs —
        # NEITHER bumps current_version (review r10 caught the
        # head-version guard missing both), but both change the log
        # listing. One listdir per statement vs O(files) footer reads.
        cache = _view_cache(spark)
        ckey = ("asof", view)
        fp = _log_fingerprint(path)
        if not (cache.get(ckey) == (path, v, fp)
                and spark.catalog.tableExists(view)):
            LH.read_version(spark, path, v).createOrReplaceTempView(view)
            cache[ckey] = (path, v, fp)
        stmt = stmt[:m.start()] + view + stmt[m.end():]
    return stmt


_DISPATCH = [
    (re.compile(r"\s*MERGE\s+INTO\b", re.IGNORECASE), _sql_merge),
    (re.compile(r"\s*CREATE\s+TABLE\b.*\bSHALLOW\s+CLONE\b",
                re.IGNORECASE | re.DOTALL), _sql_clone),
    (re.compile(r"\s*COPY\s+INTO\b", re.IGNORECASE), _sql_copy),
    (re.compile(r"\s*TRUNCATE\s+TABLE\b", re.IGNORECASE), _sql_truncate),
    (re.compile(r"\s*SHOW\s+TBLPROPERTIES\b", re.IGNORECASE), _sql_show_props),
    (re.compile(r"\s*SHOW\s+PARTITIONS\b", re.IGNORECASE), _sql_show_partitions),
    (re.compile(r"\s*ANALYZE\s+TABLE\b.*\bCOMPUTE\s+STATISTICS\b",
                re.IGNORECASE | re.DOTALL), _sql_analyze),
    (re.compile(r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\b.*\bUSING\s+lakehouse\b",
                re.IGNORECASE | re.DOTALL), _sql_create),
    (re.compile(r"\s*UPDATE\s+(?!.*\bSET\b.*\bFROM\b)", re.IGNORECASE), _sql_update),
    (re.compile(r"\s*DELETE\s+FROM\b", re.IGNORECASE), _sql_delete),
    (re.compile(r"\s*INSERT\s+(?:INTO|OVERWRITE)\b", re.IGNORECASE),
     _sql_insert),
    (re.compile(r"\s*VACUUM\b", re.IGNORECASE), _sql_vacuum),
    (re.compile(r"\s*OPTIMIZE\b", re.IGNORECASE), _sql_optimize),
    (re.compile(r"\s*DESCRIBE\s+HISTORY\b", re.IGNORECASE), _sql_history),
    (re.compile(r"\s*DESCRIBE\s+DETAIL\b", re.IGNORECASE), _sql_detail),
    (re.compile(r"\s*ALTER\s+TABLE\b", re.IGNORECASE), _sql_alter),
    (re.compile(r"\s*GENERATE\s+MANIFEST\b", re.IGNORECASE), _sql_generate),
    (re.compile(r"\s*RESTORE\s+TABLE\b", re.IGNORECASE), _sql_restore),
    (re.compile(r"\s*REORG\s+TABLE\b", re.IGNORECASE), _sql_reorg),
    (re.compile(r"\s*CONVERT\s+TO\s+LAKEHOUSE\b", re.IGNORECASE), _sql_convert),
]


def sql(spark: SparkSession, statement: str) -> DataFrame:
    """Execute one statement: lakehouse DDL/DML routes to the library
    writers; everything else falls through to `spark.sql` (where the
    temp views this module registers resolve by name)."""
    stmt = statement.strip().rstrip(";").strip()
    for rx, fn in _DISPATCH:
        if rx.match(stmt):
            # UPDATE/DELETE against non-lakehouse relations still fall
            # through: only registered names / lakehouse.`path` refs
            # dispatch here
            if fn in (_sql_update, _sql_delete, _sql_insert,
                      _sql_alter, _sql_detail, _sql_truncate,
                      _sql_copy, _sql_show_props, _sql_analyze):
                tbl = stmt.split()[1 if fn is _sql_update else 2]
                tbl = tbl.split("(")[0]  # INSERT INTO t(... tight form
                if (not re.match(r"lakehouse\.`", tbl, re.IGNORECASE)
                        and tbl.strip("`").lower() not in _TABLES):
                    break
            return fn(spark, stmt)
    if re.search(r"\b(?:VERSION|TIMESTAMP)\s+AS\s+OF\b", stmt, re.IGNORECASE):
        return spark.sql(_rewrite_time_travel(spark, stmt))
    return spark.sql(statement)
