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
`lakehouse_sql.sql()` therefore owns statement routing: lakehouse DDL
registers the table as a temp view + a name→(path, key) registry
entry, so subsequent plain-`spark.sql` SELECTs — and this module's
DML — address it by name. Views are re-registered after every
statement on a registered table, so a reader never sees a stale
snapshot through the name.

Grammar (the documented subset):

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
    DESCRIBE DETAIL <tbl>
    RESTORE TABLE <tbl> TO { VERSION AS OF <n> |
                             TIMESTAMP AS OF '<ts>' }
    REORG TABLE <tbl> APPLY (PURGE)    -- DV purge: rewrite only
                                       -- deletion-vector files
    ALTER TABLE <tbl> { ADD COLUMN[S] (c type, ...) |
                        RENAME COLUMN a TO b | DROP COLUMN c |
                        ADD CONSTRAINT n CHECK (expr) |
                        DROP CONSTRAINT n }
    GENERATE MANIFEST FOR TABLE <tbl>
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
``lakehouse.`/path/to/table` `` reference. Routing is one lookup:
`sql()` matches the statement's head, resolves the `<tbl>` it names,
and only a name that resolves reaches a handler. A statement whose
`<tbl>` (for SHALLOW CLONE, `<src>`) names no lakehouse table goes to
`spark.sql` unchanged, which raises Spark's own error for an unknown
name; a lakehouse statement outside the grammar raises ValueError.

Every keyword, comma and AS-OF reference is located by one scanner,
`_scan`, which skips quoted strings and `backtick identifiers` and
tracks paren depth — literal data never splits a statement. MERGE
follows Delta's clause semantics: clauses apply first-match-wins,
`UPDATE SET *` / `INSERT *` map columns by name. The MATCHED
classification is plain DataFrame algebra over the current snapshot
(semi/anti joins on the key), then ONE `lakehouse.merge` commit
applies all legs atomically.

Reference parity: the reference has no SQL layer at all (its
"queries" are pandas method chains, 01_TestingPy/Spotify_API.py:
42-165); this module exists for Spark-side parity with the Delta
Lake statement surface its users would expect.
"""

from __future__ import annotations

import os
import re
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata06_spark import lakehouse as LH

# name (lowercased) -> {"path": str, "key": str | None}
_TABLES: dict[str, dict] = {}


class _Table(NamedTuple):
    ref: str           # as written in the statement
    path: str
    key: str | None    # clustering key, if registered with one
    name: str | None   # registry name; None for lakehouse.`/path`


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


def _resolve(ref: str) -> _Table | None:
    """Table reference (a registry name or ``lakehouse.`/path```) →
    `_Table`; None when it names no lakehouse table."""
    m = re.fullmatch(r"lakehouse\.`([^`]+)`", ref.strip(), re.IGNORECASE)
    if m:
        return _Table(ref, m.group(1), None, None)
    name = ref.strip().strip("`").lower()
    ent = _TABLES.get(name)
    return _Table(ref, ent["path"], ent["key"], name) if ent else None


def _need_key(t: _Table, what: str) -> str:
    if not t.key:
        raise ValueError(
            f"{what} needs the table's clustering key; declare it at CREATE "
            f"time — TBLPROPERTIES ('key' '<col>') — for {t.ref!r}"
        )
    return t.key


# ------------------------------------------------------------- lexing


def _scan(s: str, pattern: str, any_depth: bool = False) -> list[re.Match]:
    """The module's one lexer: non-overlapping matches of regex
    `pattern` (case-insensitive) that start outside quoted strings
    and `backtick identifiers`, at paren depth 0 — or at any depth
    with `any_depth` (time-travel refs inside CTEs and subqueries).
    A doubled-quote escape ('it''s') scans as two adjacent literals,
    so nothing inside it is ever matched."""
    rx = re.compile(pattern, re.IGNORECASE)
    out: list[re.Match] = []
    depth = 0
    quote: str | None = None
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 or any_depth:
            m = rx.match(s, i)
            if m:
                out.append(m)
                i = max(m.end(), i + 1)
                continue
        i += 1
    return out


def _kw_at_depth0(s: str, pattern: str) -> list[int]:
    """Start offsets of `pattern` at paren depth 0, outside quotes
    and backticks (`_scan`)."""
    return [m.start() for m in _scan(s, pattern)]


def _split(s: str, pattern: str = ",") -> list[str]:
    """`s` cut at every depth-0 match of `pattern` (`_scan`), the
    separators dropped and each part stripped: VALUES lists, SET
    assignments and column specs split on commas, MERGE ON and
    OPTIMIZE WHERE on AND, MERGE clauses on WHEN."""
    cuts = [0]
    for m in _scan(s, pattern):
        cuts += [m.start(), m.end()]
    cuts.append(len(s))
    return [s[a:b].strip() for a, b in zip(cuts[::2], cuts[1::2])]


def _parse_assignments(s: str) -> dict[str, str]:
    """`a = expr, b = expr` → {col: expr-sql}; expressions may contain
    function calls and literal commas."""
    out: dict[str, str] = {}
    for q in _split(s):
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


def _names(s: str) -> list[str]:
    """A comma list of column names → the names, backticks stripped."""
    return [c.strip("`") for c in _split(s)]


def _tail(m: re.Match, pattern: str, grammar: str) -> re.Match:
    """The statement text after its dispatch head `m`, fullmatched by
    `pattern`; a statement outside `grammar` is loud."""
    tm = re.fullmatch(pattern, m.string[m.end():],
                      re.IGNORECASE | re.DOTALL)
    if not tm:
        raise ValueError(f"cannot parse {m.string!r}; expected {grammar}")
    return tm


# --------------------------------------------------------------- MERGE


def _first_match_wins(rows: DataFrame, clauses: list[tuple],
                      leg) -> list[tuple[str, DataFrame]]:
    """Delta's rule within one clause family: each row of `rows` goes
    to the FIRST clause whose condition holds (a NULL condition does
    not hold). `clauses` are (cond-sql-or-None, payload) pairs;
    `leg(claimed_rows, payload)` turns a clause's rows into its
    (kind, frame) merge leg."""
    legs = []
    remaining = F.lit(True)
    for cond, payload in clauses:
        holds = F.lit(True) if cond is None else \
            F.coalesce(F.expr(cond), F.lit(False))
        legs.append(leg(rows.filter(remaining & holds), payload))
        remaining = remaining & ~holds
    return legs


def _union(frames: list[DataFrame]) -> DataFrame | None:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  frames) if frames else None


def _sql_merge(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    am = re.match(r"(?:\s+AS)?\s+(?P<talias>[A-Za-z_]\w*)\s+USING\s+",
                  m.string[m.end():], re.IGNORECASE)
    if not am:
        raise ValueError(
            "MERGE INTO requires explicit target and source aliases: "
            "MERGE INTO <tbl> t USING <src> s ON t.k = s.k ..."
        )
    talias = am.group("talias")
    rest = m.string[m.end() + am.end():]

    on_off = _kw_at_depth0(rest, r"\bON\b")
    if not on_off:
        raise ValueError("MERGE INTO is missing its ON clause")
    src_part = rest[: on_off[0]].strip()
    sm = re.fullmatch(r"(?P<src>\(.*\)|\S+)(?:\s+AS)?\s+(?P<salias>[A-Za-z_]\w*)",
                      src_part, re.IGNORECASE | re.DOTALL)
    if not sm:
        raise ValueError(f"cannot parse MERGE source {src_part!r}")
    src_sql, salias = sm.group("src"), sm.group("salias")

    on_cond, *clauses = _split(rest[on_off[0] + 2:], r"\bWHEN\b")
    if not clauses:
        raise ValueError("MERGE INTO has no WHEN clauses")
    keys: list[str] = []
    for conj in _split(on_cond, r"\bAND\b"):
        om = re.fullmatch(
            rf"{talias}\.`?(?P<k1>\w+)`?\s*=\s*{salias}\.`?(?P<k2>\w+)`?"
            rf"|{salias}\.`?(?P<k3>\w+)`?\s*=\s*{talias}\.`?(?P<k4>\w+)`?",
            conj, re.IGNORECASE,
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
    if t.key and t.key not in keys:
        raise ValueError(
            f"MERGE keys on {keys} but the table's clustering key is "
            f"{t.key!r}; the library merge prunes/rewrites by clustering "
            "key, so the ON clause must include it"
        )
    if t.key:
        # clustering key FIRST: file-range pruning and write layout
        # run on the leading key
        keys.sort(key=lambda k: k != t.key)

    # (cond, (kind, sets)) per clause family, in statement order
    matched: list[tuple] = []
    by_source: list[tuple] = []
    insert_clauses: list[tuple] = []  # (cond, ins_map-or-None)
    for cl in clauses:
        cm = re.fullmatch(
            r"NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(?P<cond>.*?))?"
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
            by_source.append((cm.group("cond"), sets))
            continue
        cm = re.fullmatch(
            r"NOT\s+MATCHED\s*(?:AND\s+(?P<cond>.*?))?\s*THEN\s+"
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
                names = _names(cm.group("icols"))
                vals = _split(cm.group("ivals"))
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
            r"MATCHED\s*(?:AND\s+(?P<cond>.*?))?\s*THEN\s+"
            r"(?:(?P<del>DELETE)|UPDATE\s+SET\s+(?P<sets>.*))",
            cl, re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise ValueError(f"cannot parse MERGE clause 'WHEN {cl}'")
        sets = None
        if not cm.group("del"):
            s = cm.group("sets").strip()
            sets = {} if s == "*" else _parse_assignments(s)
        matched.append((cm.group("cond"), sets))

    tgt = LH.read_version(spark, t.path, LH.current_version(t.path)) \
        .alias(talias)
    src = (spark.sql(f"SELECT * FROM {src_sql} __lh_src" if src_sql.startswith("(")
                     else f"SELECT * FROM {src_sql}")).alias(salias)
    tgt_cols = tgt.columns

    def check_sets(sets: dict) -> None:
        unknown = sorted(set(sets) - set(tgt_cols))
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns {unknown}")

    def matched_leg(hit: DataFrame, sets: dict | None):
        if sets is None:
            return "delete", hit.select(
                *[F.col(f"{salias}.{k}").alias(k) for k in keys])
        check_sets(sets)

        def value(c: str):
            if c in sets:
                return F.expr(sets[c])
            if not sets and c in src.columns:  # UPDATE SET *: by name
                return F.col(f"{salias}.{c}")
            return F.col(f"{talias}.{c}")

        return "update", hit.select(*[value(c).alias(c) for c in tgt_cols])

    def by_source_leg(hit: DataFrame, sets: dict | None):
        if sets is None:
            return "delete", hit.select(*keys)
        check_sets(sets)
        return "update", hit.select(*[
            (F.expr(sets[c]) if c in sets else F.col(c)).alias(c)
            for c in tgt_cols
        ])

    def insert_leg(hit: DataFrame, ins_map: dict | None):
        if ins_map is not None:
            unknown = sorted(set(ins_map) - set(tgt_cols))
            if unknown:
                raise ValueError(f"INSERT names unknown columns {unknown}")
            # unnamed target columns null-fill in merge's insert leg
            hit = hit.select(*[F.expr(e).alias(c) for c, e in ins_map.items()])
        return "insert", hit

    on_expr = F.lit(True)
    for k in keys:
        on_expr = on_expr & (F.col(f"{salias}.{k}") == F.col(f"{talias}.{k}"))
    legs = _first_match_wins(src.join(tgt, on_expr, "inner"), matched,
                             matched_leg)
    if by_source:
        # NOT MATCHED BY SOURCE (Delta): target rows with no source
        # match; conditions/assignments see only the target row
        legs += _first_match_wins(
            tgt.join(src.select(*[F.col(f"{salias}.{k}").alias(k)
                                  for k in keys]), keys, "left_anti"),
            by_source, by_source_leg)
    if insert_clauses:
        legs += _first_match_wins(
            src.join(tgt.select(*[F.col(f"{talias}.{k}").alias(k)
                                  for k in keys]), keys, "left_anti"),
            insert_clauses, insert_leg)

    def leg_frames(kind: str) -> DataFrame | None:
        return _union([df for k, df in legs if k == kind])

    new_v = LH.merge(spark, t.path, keys if len(keys) > 1 else keys[0],
                     updates=leg_frames("update"),
                     delete_keys=leg_frames("delete"),
                     inserts=leg_frames("insert"))
    return _version_df(spark, new_v)


# ----------------------------------------------------- other statements


def _sql_create(spark: SparkSession, m: re.Match, _t: None) -> DataFrame:
    tm = _tail(
        m,
        r"\s+(?P<name>[\w`.]+)\s+USING\s+lakehouse\s*"
        r"(?:TBLPROPERTIES\s*\(\s*'key'\s*=?\s*'(?P<key>\w+)'\s*\)\s*)?"
        r"(?:PARTITIONED\s+BY\s*\(\s*(?P<pby>[^)]+?)\s*\)\s*)?"
        r"LOCATION\s+'(?P<path>[^']+)'\s*"
        r"(?:TBLPROPERTIES\s*\(\s*'key'\s*=?\s*'(?P<key2>\w+)'\s*\)\s*)?"
        r"(?:AS\s+(?P<query>.+))?",
        "CREATE TABLE <name> USING lakehouse [TBLPROPERTIES ('key' '<col>')] "
        "[PARTITIONED BY (c1, ...)] LOCATION '<path>' [AS <query>]",
    )
    name = tm.group("name").strip("`")
    path = tm.group("path")
    key = tm.group("key") or tm.group("key2")
    pby = _names(tm.group("pby")) if tm.group("pby") else None
    query = tm.group("query")
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


def _sql_update(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tm = _tail(m, r"\s+SET\s+(?P<body>.+)", "UPDATE <tbl> SET c = expr, "
               "... [WHERE <cond>]")
    body = tm.group("body")
    # WHERE found quote/paren-aware, not by regex: a SET value literal
    # containing ' WHERE ' must not split the statement there
    w = _kw_at_depth0(body, r"\bWHERE\b")
    sets_sql = body[: w[0]] if w else body
    cond_sql = body[w[0] + 5:].strip() if w else None
    if not sets_sql.strip():
        raise ValueError(f"cannot parse UPDATE statement {m.string!r}")
    key = _need_key(t, "UPDATE")
    sets = {c: F.expr(e) for c, e in _parse_assignments(sets_sql).items()}
    pred = cond_sql if cond_sql else F.lit(True)
    return _version_df(spark, LH.update_where(spark, t.path, key, sets, pred))


def _sql_delete(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tm = _tail(m, r"(?:\s+WHERE\s+(?P<cond>.+))?",
               "DELETE FROM <tbl> [WHERE <cond>]")
    pred = tm.group("cond") if tm.group("cond") else F.lit(True)
    return _version_df(spark, LH.delete_where(spark, t.path, pred))


def _sql_insert(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """INSERT INTO <tbl> [(cols)] VALUES ... | SELECT ... — Delta's
    blind append (duplicates allowed; dedup is MERGE's job). With a
    registered clustering key the rows go through `lakehouse.append`,
    which maintains every table invariant session-side (generated /
    identity / constraints / partition layout / stats / blooms); an
    inline key-less reference falls back to the DataSource writer and
    inherits its loud-reject contract for such tables. Values bind
    positionally; named column lists null-fill the rest; extra or
    unknown columns are loud."""
    grammar = ("INSERT { INTO | OVERWRITE [TABLE] } <tbl> [(c1, ...)] "
               "[REPLACE WHERE <cond>] { VALUES ... | SELECT ... }")
    tm = _tail(m, r"\s*(?:\(\s*(?P<cols>[^)]+?)\s*\)\s*)?(?P<rest>.*)",
               grammar)
    rest = tm.group("rest")
    # the body starts at the first DEPTH-0 SELECT/VALUES — a REPLACE
    # WHERE condition may itself contain a parenthesized subquery
    # SELECT, which a lazy-regex lookahead would wrongly split on
    body_off = _kw_at_depth0(rest, r"\b(?:SELECT|VALUES)\b")
    if not body_off:
        raise ValueError(f"cannot parse {m.string!r}; expected {grammar}")
    head, body = rest[: body_off[0]].strip(), rest[body_off[0]:]
    rw = None
    if head:
        hm = re.fullmatch(r"REPLACE\s+WHERE\s+(?P<rw>.+)", head,
                          re.IGNORECASE | re.DOTALL)
        if not hm:
            raise ValueError(f"cannot parse {m.string!r}; expected {grammar}")
        rw = hm.group("rw").strip()
    if m.group("ovw") and rw:
        raise ValueError(
            "use INSERT OVERWRITE (whole table) or INSERT INTO ... "
            "REPLACE WHERE (predicate region), not both")
    from bigdata06_spark.sources.lakehouse_datasource import (
        register as _register_ds,
    )

    _register_ds(spark)
    df = spark.sql(body)
    tgt = spark.read.format("lakehouse").load(t.path).schema
    ident = LH.table_identity(t.path)
    if ident:
        # the table allocates its identity column; INSERT may not
        # bind it (positionally or by name) — drop it from the target
        tgt = type(tgt)([f for f in tgt.fields if f.name != ident["col"]])
    names = _names(tm.group("cols")) if tm.group("cols") else tgt.fieldNames()
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
        key = _need_key(t, "REPLACE WHERE / INSERT OVERWRITE")
        LH.overwrite_where(spark, t.path, key, out, predicate=rw or "true")
    elif t.key:
        LH.append(spark, t.path, t.key, out)
    else:
        out.write.format("lakehouse").mode("append").save(t.path)
    return _version_df(spark, LH.current_version(t.path))


def _sql_vacuum(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tm = _tail(m, r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?"
                  r"(?:\s+(?P<dry>DRY\s+RUN))?",
               "VACUUM <tbl> [RETAIN <n> VERSIONS] [DRY RUN]")
    keep = int(tm.group("n") or 1)
    if tm.group("dry"):
        # Delta's VACUUM ... DRY RUN: list the would-delete set,
        # remove nothing — the operator's check-before-reclaim step
        would = LH.vacuum(t.path, keep_versions=keep, dry_run=True)
        return spark.createDataFrame([(f,) for f in would], "path string")
    removed = LH.vacuum(t.path, keep_versions=keep)
    return spark.createDataFrame([(len(removed),)], "files_removed long")


#: one partition-predicate literal: a quoted string (doubled-quote
#: escapes allowed) or a bare token
_LITERAL = r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|[^\s'\"(),]+"


def _literal_value(tok: str) -> str:
    """A `_LITERAL` → its path-encoded partition value (quotes
    stripped, doubled quotes unescaped)."""
    tok = tok.strip()
    if not re.fullmatch(_LITERAL, tok):
        raise ValueError(f"expected one literal value, got {tok!r}")
    if tok[0] in "'\"":
        return tok[1:-1].replace(tok[0] * 2, tok[0])
    return tok


def _parse_partition_predicate(cond: str) -> dict:
    """Delta's OPTIMIZE-WHERE grammar: AND-conjoined `col = value` /
    `col IN (v1, v2, ...)` over PARTITION columns only → the library's
    `partitions={col: [values]}`. Values strip quotes (partition
    pruning compares path-encoded strings)."""
    out: dict[str, list[str]] = {}
    for conj in _split(cond, r"\bAND\b"):
        m = re.fullmatch(r"`?(\w+)`?\s*(?:=\s*(?P<eq>.+)|IN\s*\((?P<in>.*)\))",
                         conj, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(
                "OPTIMIZE WHERE supports AND-conjoined partition equality/IN "
                f"predicates only, got {conj!r}"
            )
        toks = [m.group("eq")] if m.group("eq") else _split(m.group("in"))
        out.setdefault(m.group(1), []).extend(_literal_value(v) for v in toks)
    return out


def _sql_optimize(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tail = m.string[m.end():]
    # clause keywords located quote/backtick-aware (advisor r7): a
    # quoted partition value containing ' ZORDER BY (' or
    # ' INCREMENTAL' must not split the WHERE predicate there
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
        raise ValueError(f"cannot parse OPTIMIZE statement {m.string!r}")
    where_sql = None
    if w is not None:
        nxt = min((x for x in (z, inc) if x is not None), default=end)
        if nxt < w:
            raise ValueError("OPTIMIZE clauses out of order: WHERE must "
                             "precede ZORDER BY / INCREMENTAL")
        where_sql = tail[w + len("WHERE"):nxt].strip()
        if not where_sql:
            raise ValueError("empty WHERE clause in OPTIMIZE")
    if inc is not None:
        if where_sql:
            raise ValueError("OPTIMIZE INCREMENTAL takes no WHERE clause")
        # incremental clustering: fold post-OPTIMIZE files into the
        # frozen grid; no key needed (the grid is the layout)
        return _version_df(spark, LH.optimize_zorder_incremental(spark, t.path))
    zo = None
    if z is not None:
        zo = _names(re.fullmatch(r"ZORDER\s+BY\s*\(\s*(?P<cols>[^)]+)\)\s*",
                                 tail[z:], re.IGNORECASE | re.DOTALL)
                    .group("cols"))
    key = _need_key(t, "OPTIMIZE")
    # Delta's OPTIMIZE ... WHERE: partition-scoped compaction — only
    # matching partitions' files rewrite, cold partitions carry over by
    # reference
    parts = _parse_partition_predicate(where_sql) if where_sql else None
    return _version_df(spark, LH.optimize(spark, t.path, key, zorder_by=zo,
                                          partitions=parts))


def _sql_history(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tm = _tail(m, r"(?:\s+LIMIT\s+(?P<n>\d+))?",
               "DESCRIBE HISTORY <tbl> [LIMIT <n>]")
    hist = LH.describe_history(spark, t.path)
    if tm.group("n"):
        # Delta's LIMIT: the n MOST RECENT commits
        hist = hist.orderBy(F.desc("version")).limit(int(tm.group("n")))
    return hist


def _sql_convert(spark: SparkSession, m: re.Match, _t: None) -> DataFrame:
    tm = _tail(m, r"(?:\s+STATS\s+\(\s*(?P<cols>[^)]+)\))?",
               "CONVERT TO LAKEHOUSE parquet.`/dir` [STATS (c1, ...)]")
    cols = _names(tm.group("cols")) if tm.group("cols") else None
    return _version_df(spark, LH.convert_to_lakehouse(
        spark, m.group("path"), stats_cols=cols))


def _sql_restore(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    tm = _tail(m, r"\s+TO\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
                  r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')",
               "RESTORE TABLE <tbl> TO { VERSION AS OF <n> | "
               "TIMESTAMP AS OF '<ts>' }")
    if tm.group("v") is not None:
        to_v = int(tm.group("v"))
    else:
        # Delta's RESTORE ... TIMESTAMP AS OF: the latest version
        # committed at-or-before the timestamp (epoch seconds or the
        # formats version_at_timestamp accepts)
        to_v = LH.version_at_timestamp(t.path, _parse_asof_ts(tm.group("ts")))
    return _version_df(spark, LH.restore(t.path, to_v))


def _parse_asof_ts(ts: str) -> float:
    """AS-OF timestamp string → epoch seconds: bare epoch floats or
    ISO datetimes (RESTORE and SELECT-side time travel alike)."""
    try:
        return float(ts)
    except ValueError:
        from datetime import datetime

        return datetime.fromisoformat(ts).timestamp()


def _sql_reorg(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """REORG TABLE <tbl> APPLY (PURGE) — Delta's deletion-vector
    purge: rewrite only the DV-carrying files, materializing the
    soft deletes; O(DV files), never O(table)."""
    _tail(m, r"\s+APPLY\s*\(\s*PURGE\s*\)", "REORG TABLE <tbl> APPLY (PURGE)")
    return _version_df(spark, LH.reorg_purge(spark, t.path,
                                             _need_key(t, "REORG")))


def _sql_alter(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """ALTER TABLE — the Delta schema-evolution statement set, each
    form a ZERO-REWRITE metadata version via the library's
    schema-action log:
      ALTER TABLE t ADD COLUMN[S] (name type[, ...])   | one version
      ALTER TABLE t RENAME COLUMN a TO b               | per statement
      ALTER TABLE t DROP COLUMN c
      ALTER TABLE t ADD CONSTRAINT n CHECK (expr)
      ALTER TABLE t DROP CONSTRAINT n
    ADD COLUMNS checks every name and type before it commits, so a
    bad column commits nothing."""
    rest = _tail(m, r"\s+(?P<rest>.+)", "ALTER TABLE <tbl> <action>") \
        .group("rest").strip()
    am = re.fullmatch(r"ADD\s+COLUMNS?\s+(?P<cols>.+)", rest,
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
        v = LH.rename_column(spark, t.path, rm.group("old"), rm.group("new"))
    elif dm:
        v = LH.drop_column(spark, t.path, dm.group("col"))
    elif acm:
        v = LH.add_constraint(spark, t.path, acm.group("name"),
                              acm.group("expr").strip())
    elif dcm:
        v = LH.drop_constraint(t.path, dcm.group("name"))
    elif am:
        cols = am.group("cols").strip()
        if cols.startswith("(") and cols.endswith(")"):
            cols = cols[1:-1]
        # a nested type's own commas (map<k,v>, struct<a:t,b:t>) sit
        # inside angle brackets: rejoin the pieces until they balance
        parts: list[str] = []
        for part in _split(cols):
            if parts and parts[-1].count("<") > parts[-1].count(">"):
                parts[-1] += ", " + part
            else:
                parts.append(part)
        specs = []
        for part in parts:
            cm = re.fullmatch(r"`?(?P<col>\w+)`?\s+(?P<type>.+)", part,
                              re.DOTALL)
            if not cm:
                raise ValueError(f"cannot parse ADD COLUMN spec {part!r}")
            specs.append((cm.group("col"), cm.group("type").strip()))
        v = LH.add_columns(t.path, specs)
    else:
        raise ValueError(f"unsupported ALTER TABLE action {rest!r}")
    return _version_df(spark, v)


def _sql_detail(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """DESCRIBE DETAIL — Delta's one-row table-metadata summary:
    format, location, current version, file count and byte size,
    partition columns, live deletion-vector count, clustering key,
    stats/bloom columns. Metadata-only (log + file sizes; no data
    I/O)."""
    _tail(m, r"\s*", "DESCRIBE DETAIL <tbl>")
    v = LH.current_version(t.path)
    if v < 0:
        raise ValueError(f"no lakehouse table at {t.path}")
    snap = LH.snapshot(t.path, v)
    files, dvs = snap.files, snap.dvs
    size = 0
    for f in files:
        try:
            size += os.path.getsize(os.path.join(t.path, f))
        except OSError:
            pass
    row = (
        "lakehouse", t.path, int(v), len(files), int(size),
        ",".join(snap.pby),
        sum(len(x) for x in dvs.values()),
        t.key or "", ",".join(snap.scols),
    )
    return spark.createDataFrame(
        [row],
        "format string, location string, version int, numFiles int, "
        "sizeInBytes bigint, partitionColumns string, "
        "numDeletionVectorFiles int, clusteringKey string, "
        "statsColumns string",
    )


def _sql_generate(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """GENERATE MANIFEST FOR TABLE <t> — Delta's `GENERATE ... FOR
    TABLE` shape, targeting this format's relational snapshot
    manifest (lakehouse_manifest.refresh_manifest): folds the log
    entries since the last manifest (O(files-changed)) or full-builds
    on checkpoint/RESTORE. Returns (version, mode, dir)."""
    from bigdata06_spark import lakehouse_manifest as M

    _tail(m, r"\s*", "GENERATE MANIFEST FOR TABLE <tbl>")
    r = M.refresh_manifest(spark, t.path)
    return spark.createDataFrame(
        [(int(r["version"]), r["mode"], r["dir"])],
        "version int, mode string, dir string",
    )


def _sql_copy(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """COPY INTO <tbl> FROM '<dir-or-glob>' [FILEFORMAT = PARQUET|CSV|
    JSON] — Delta's idempotent bulk load: only source files whose
    `<abs-path>:<size>` tag is absent from the table's cumulative
    copy ledger load (as ONE append version recording those tags), so
    re-running the statement is a no-op and a grown landing directory
    loads exactly its new files. Returns
    (version, num_files_loaded, num_rows_loaded)."""
    tm = _tail(m, r"\s+FROM\s+'(?P<src>[^']+)'"
                  r"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?",
               "COPY INTO <tbl> FROM '<dir-or-glob>' "
               "[FILEFORMAT = PARQUET|CSV|JSON]")
    v, n_files, n_rows = LH.copy_into(
        spark, t.path, _need_key(t, "COPY INTO"), tm.group("src"),
        (tm.group("fmt") or "parquet")
    )
    return spark.createDataFrame(
        [(int(v), int(n_files), int(n_rows))],
        "version int, num_files_loaded int, num_rows_loaded bigint",
    )


def _sql_truncate(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """TRUNCATE TABLE <tbl> — delete every live row as a NEW version
    (history stays time-travelable; vacuum reclaims the files)."""
    _tail(m, r"\s*", "TRUNCATE TABLE <tbl>")
    return _version_df(spark, LH.delete_where(spark, t.path, F.lit(True)))


def _sql_show_partitions(spark: SparkSession, m: re.Match,
                         t: _Table) -> DataFrame:
    """SHOW PARTITIONS <tbl> — the distinct live partition-value
    tuples. Planned through the snapshot manifest when fresh (pushed
    distinct over the p_ columns, collect bounded by partitions);
    driver log-replay fallback otherwise."""
    _tail(m, r"\s*", "SHOW PARTITIONS <tbl>")
    pby = LH.table_partition_by(t.path)
    if not pby:
        raise ValueError(f"{t.ref!r} is not a partitioned table")
    try:
        from bigdata06_spark import lakehouse_manifest as M

        meta = M.manifest_meta(t.path)
        if meta is not None and meta["version"] == LH.current_version(t.path):
            return (
                M.manifest_df(spark, t.path)
                .select(*[F.col(f"p_{c}").alias(c) for c in pby])
                .distinct().orderBy(*pby)
            )
    except Exception:
        pass
    vals = sorted({
        tuple(LH._pvals_of_rel(f).get(c) for c in pby)
        for f in LH.files_at_version(t.path, LH.current_version(t.path))
    })
    return spark.createDataFrame(
        [tuple(v) for v in vals],
        T.StructType([T.StructField(c, T.StringType()) for c in pby]))


def _sql_show_props(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """SHOW TBLPROPERTIES <tbl> — every table-level spec the log
    carries, as (key, value) string rows: location, version,
    clustering key, partition/stats/bloom specs, generated and
    identity columns, CHECK constraints, z-order state."""
    import json as _json

    _tail(m, r"\s*", "SHOW TBLPROPERTIES <tbl>")
    path = t.path
    v = LH.current_version(path)
    rows = [("location", path), ("version", str(int(v)))]
    if t.key:
        rows.append(("key", t.key))
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


def _sql_analyze(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """ANALYZE TABLE <tbl> COMPUTE STATISTICS — refresh the
    relational snapshot manifest (per-file stats mirror) to the
    current version; the planner's `plan_files` then prunes from
    parquet instead of re-parsing the JSON log. Returns
    (version, mode, num_files)."""
    from bigdata06_spark import lakehouse_manifest as M

    _tail(m, r"\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+ALL\s+COLUMNS)?",
          "ANALYZE TABLE <tbl> COMPUTE STATISTICS [FOR ALL COLUMNS]")
    r = M.refresh_manifest(spark, t.path)
    n_files = len(LH.files_at_version(t.path, int(r["version"])))
    return spark.createDataFrame(
        [(int(r["version"]), r["mode"], int(n_files))],
        "version int, mode string, num_files int",
    )


def _sql_clone(spark: SparkSession, m: re.Match, t: _Table) -> DataFrame:
    """CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF <n>]
    LOCATION '<path>' — Delta's zero-copy branch: the clone's v0 is a
    checkpoint entry referencing the source's files by absolute path;
    it diverges independently from there. The clone inherits the
    source's clustering key in the registry."""
    tm = _tail(m, r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?"
                  r"\s+LOCATION\s+'(?P<path>[^']+)'",
               "CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF <n>] "
               "LOCATION '<path>'")
    dst = tm.group("path")
    LH.clone(t.path, dst, int(tm.group("v")) if tm.group("v") else None)
    register_table(spark, m.group("name").strip("`"), dst, t.key)
    return _version_df(spark, LH.current_version(dst))


_ASOF_REF = (
    r"(?P<ref>lakehouse\.`[^`]+`|[A-Za-z_][\w.]*)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)|"
    r"TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')"
)


def _rewrite_time_travel(spark: SparkSession, stmt: str) -> str:
    """SELECT-side time travel: rewrite every `<tbl> VERSION AS OF
    <n>` / `<tbl> TIMESTAMP AS OF '<ts>'` whose ref resolves to a
    lakehouse table into a temp view over `read_version` at that
    version (timestamps resolve via the log's commit wall clocks,
    Delta's AS-OF rule), leaving everything else — including any
    trailing alias — for `spark.sql`. Works anywhere in the
    statement (joins, CTEs), skipping quoted strings and backtick
    identifiers."""
    import hashlib

    for m in reversed(_scan(stmt, _ASOF_REF, any_depth=True)):
        t = _resolve(m.group("ref"))
        if t is None:
            continue  # not a lakehouse ref — leave for spark.sql
        if m.group("v") is not None:
            v = int(m.group("v"))
        else:
            v = LH.version_at_timestamp(t.path, _parse_asof_ts(m.group("ts")))
        view = (f"{t.name or 'lh'}_asof_{v}_"
                f"{hashlib.md5(t.path.encode()).hexdigest()[:6]}")
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
        fp = _log_fingerprint(t.path)
        if not (cache.get(ckey) == (t.path, v, fp)
                and spark.catalog.tableExists(view)):
            LH.read_version(spark, t.path, v).createOrReplaceTempView(view)
            cache[ckey] = (t.path, v, fp)
        stmt = stmt[:m.start()] + view + stmt[m.end():]
    return stmt


#: a table reference: ``lakehouse.`/path```, `name`, or a dotted name
_TBL = r"(?P<tbl>lakehouse\.`[^`]+`|`[^`]+`|[\w.]+)"

#: statement head → handler. A head with a `tbl` group routes to its
#: handler only when `_resolve` finds that table; the two without one
#: (CREATE ... USING lakehouse, CONVERT) always do.
_DISPATCH = [(re.compile(p, re.IGNORECASE | re.DOTALL), fn) for p, fn in [
    (rf"MERGE\s+INTO\s+{_TBL}", _sql_merge),
    (rf"CREATE\s+TABLE\s+(?P<name>[\w`.]+)\s+SHALLOW\s+CLONE\s+{_TBL}",
     _sql_clone),
    (rf"COPY\s+INTO\s+{_TBL}", _sql_copy),
    (rf"TRUNCATE\s+TABLE\s+{_TBL}", _sql_truncate),
    (rf"SHOW\s+TBLPROPERTIES\s+{_TBL}", _sql_show_props),
    (rf"SHOW\s+PARTITIONS\s+{_TBL}", _sql_show_partitions),
    (rf"ANALYZE\s+TABLE\s+{_TBL}", _sql_analyze),
    (r"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE(?=.*\bUSING\s+lakehouse\b)",
     _sql_create),
    (rf"UPDATE\s+{_TBL}", _sql_update),
    (rf"DELETE\s+FROM\s+{_TBL}", _sql_delete),
    (rf"INSERT\s+(?:INTO|(?P<ovw>OVERWRITE)(?:\s+TABLE)?)\s+{_TBL}",
     _sql_insert),
    (rf"VACUUM\s+{_TBL}", _sql_vacuum),
    (rf"OPTIMIZE\s+{_TBL}", _sql_optimize),
    (rf"DESCRIBE\s+HISTORY\s+{_TBL}", _sql_history),
    (rf"DESCRIBE\s+DETAIL\s+{_TBL}", _sql_detail),
    (rf"ALTER\s+TABLE\s+{_TBL}", _sql_alter),
    (rf"GENERATE\s+MANIFEST\s+FOR\s+TABLE\s+{_TBL}", _sql_generate),
    (rf"RESTORE\s+TABLE\s+{_TBL}", _sql_restore),
    (rf"REORG\s+TABLE\s+{_TBL}", _sql_reorg),
    (r"CONVERT\s+TO\s+LAKEHOUSE\s+(?:parquet\.)?`(?P<path>[^`]+)`",
     _sql_convert),
]]


def sql(spark: SparkSession, statement: str) -> DataFrame:
    """Execute one statement: lakehouse DDL/DML routes to the library
    writers; everything else falls through to `spark.sql` (where the
    temp views this module registers resolve by name)."""
    stmt = statement.strip().rstrip(";").strip()
    for rx, fn in _DISPATCH:
        m = rx.match(stmt)
        if not m:
            continue
        t = None
        if "tbl" in rx.groupindex:
            t = _resolve(m.group("tbl"))
            if t is None:
                break  # names no lakehouse table: Spark's own statement
        out = fn(spark, m, t)
        if t is not None and t.name:
            _refresh_view(spark, t.name)
        return out
    if re.search(r"\b(?:VERSION|TIMESTAMP)\s+AS\s+OF\b", stmt, re.IGNORECASE):
        return spark.sql(_rewrite_time_travel(spark, stmt))
    return spark.sql(statement)
