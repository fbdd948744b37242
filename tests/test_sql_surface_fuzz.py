"""Adversarial-but-legal statements against the lakehouse SQL front
end (VERDICT r6 #7): the regex grammar splits clauses at depth-0
keywords, so a user's LITERAL DATA containing keywords ('WHEN
MATCHED' in a value, ' WHERE ' in a SET string), quoted identifiers,
doubled-quote escapes, newlines, and mixed case must never misparse a
statement. Property tests fuzz the pure splitter helpers (no Spark —
fast, wide coverage); deterministic end-to-end statements pin the
full-path behavior for each reported hazard.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata06_spark import lakehouse as LH
from bigdata06_spark import lakehouse_sql as LSQL
from bigdata06_spark.lakehouse_sql import _kw_at_depth0, _parse_assignments

# value alphabet deliberately rich in parser hazards: keywords, commas,
# parens, dots, operators — everything except the quote chars that
# would terminate the literal
_HAZARD_WORDS = st.sampled_from([
    "WHEN", "MATCHED", "THEN", "DELETE", "UPDATE", "SET", "WHERE",
    "AND", "ON", "USING", "INSERT", "merge", "into", ",", "(", ")",
    "=", ".", "*", "t.k", "s.k", "1=1", "x,y", "a(b)",
])
_VALUES = st.lists(_HAZARD_WORDS, min_size=1, max_size=6).map(" ".join)


@settings(max_examples=200, deadline=None)
@given(_VALUES, _VALUES)
def test_kw_split_ignores_quoted_keywords(v1, v2):
    """_kw_at_depth0 must find exactly the UNQUOTED keyword
    occurrences, however keyword-shaped the quoted payloads are."""
    s = f"note = '{v1}' WHEN MATCHED AND tag = \"{v2}\" THEN DELETE"
    offs = _kw_at_depth0(s, r"\bWHEN\b")
    assert offs == [s.index("' WHEN MATCHED") + 2]
    # backtick identifiers shield keywords too
    s2 = f"`{v1} WHEN x` = 1 WHEN MATCHED"
    offs2 = _kw_at_depth0(s2, r"\bWHEN\b")
    assert offs2 == [len(s2) - len("WHEN MATCHED")]


@settings(max_examples=200, deadline=None)
@given(_VALUES, _VALUES)
def test_parse_assignments_hazardous_literals(v1, v2):
    """Assignments whose VALUES carry commas, parens, '=', and
    keywords parse to exactly the written pairs."""
    s = f"a = '{v1}', b = concat('{v2}', ','), c = (1 + 2) * 3"
    got = _parse_assignments(s)
    assert got == {"a": f"'{v1}'", "b": f"concat('{v2}', ',')",
                   "c": "(1 + 2) * 3"}


@settings(max_examples=100, deadline=None)
@given(_VALUES)
def test_parse_assignments_backtick_identifiers(v):
    s = f"`when set` = '{v}', t.`where` = 2"
    got = _parse_assignments(s)
    assert got == {"when set": f"'{v}'", "where": "2"}


def test_kw_split_doubled_quote_escape():
    """'' inside a literal scans as adjacent literals — either way no
    keyword inside is ever split on."""
    s = "a = 'don''t WHEN' WHEN MATCHED"
    offs = _kw_at_depth0(s, r"\bWHEN\b")
    assert len(offs) == 1 and s[offs[0]:].startswith("WHEN MATCHED")


@pytest.fixture(scope="module")
def fuzz_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqlfuzz") / "t")
    LH.table_init(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
            "k long, note string, v double"),
        path, "k", n_files=1)
    LSQL.register_table(spark, "fz", path, "k")
    return path


def test_update_set_literal_containing_where(spark, fuzz_table):
    """The round-6 regex split the statement at the FIRST ' WHERE ',
    even inside a SET string literal — now found quote-aware."""
    LSQL.sql(spark, "UPDATE fz SET note = 'x WHERE y' WHERE k = 1")
    got = {r.k: r.note for r in LSQL.sql(spark, "SELECT * FROM fz").collect()}
    assert got[1] == "x WHERE y" and got[2] == "b"


def test_update_without_where_keyword_literal(spark, fuzz_table):
    LSQL.sql(spark, "UPDATE fz SET note = 'WHEN MATCHED THEN DELETE' "
                    "WHERE k = 2")
    got = {r.k: r.note for r in LSQL.sql(spark, "SELECT * FROM fz").collect()}
    assert got[2] == "WHEN MATCHED THEN DELETE"


def test_merge_literals_and_conditions_with_keywords(spark, fuzz_table):
    """MERGE whose source VALUES and clause CONDITIONS are stuffed
    with keyword-shaped literals: clause splitting, first-match-wins,
    and INSERT * all hold."""
    spark.createDataFrame(
        [(2, "ON t.k = s.k AND", -1.0), (3, "WHEN MATCHED", 5.0),
         (9, "USING chg s", 9.0)],
        "k long, note string, v double").createOrReplaceTempView("fz_chg")
    LSQL.sql(spark, """
        MERGE INTO fz t USING fz_chg s ON t.k = s.k
        WHEN MATCHED AND s.note = 'ON t.k = s.k AND' THEN
            UPDATE SET note = 'hit WHEN MATCHED', v = s.v
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: (r.note, r.v)
           for r in LSQL.sql(spark, "SELECT * FROM fz").collect()}
    assert got[2] == ("hit WHEN MATCHED", -1.0)   # first clause claimed it
    assert got[3] == ("WHEN MATCHED", 5.0)        # second clause, SET *
    assert got[9] == ("USING chg s", 9.0)         # inserted
    assert len(got) == 4


def test_merge_insert_column_list_values(spark, tmp_path):
    """MERGE's explicit insert action — INSERT (cols) VALUES (exprs):
    expressions see the source row (calls with literal commas
    included), unnamed target columns insert as NULL, a list missing
    the merge key is loud, unknown columns are loud."""
    path = str(tmp_path / "mi")
    LH.table_init(
        spark.createDataFrame([(1, "a", 1.0)], "k long, note string, v double"),
        path, "k", n_files=1)
    LSQL.register_table(spark, "fz_mi", path, "k")
    spark.createDataFrame([(2, "x"), (3, "y")], "k long, tag string") \
        .createOrReplaceTempView("fz_mi_src")
    LSQL.sql(spark, """
        MERGE INTO fz_mi t USING fz_mi_src s ON t.k = s.k
        WHEN NOT MATCHED AND s.k < 3 THEN
            INSERT (k, note) VALUES (s.k, concat(s.tag, ',', 'ins'))
    """)
    got = {r.k: (r.note, r.v) for r in LSQL.sql(
        spark, "SELECT * FROM fz_mi").collect()}
    assert got == {1: ("a", 1.0), 2: ("x,ins", None)}  # 3 filtered out

    with pytest.raises(ValueError, match="merge key"):
        LSQL.sql(spark, """
            MERGE INTO fz_mi t USING fz_mi_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (note) VALUES (s.tag)
        """)
    with pytest.raises(ValueError, match="unknown columns"):
        LSQL.sql(spark, """
            MERGE INTO fz_mi t USING fz_mi_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, nope) VALUES (s.k, s.tag)
        """)
    with pytest.raises(ValueError, match="VALUES carries"):
        LSQL.sql(spark, """
            MERGE INTO fz_mi t USING fz_mi_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, note) VALUES (s.k)
        """)


def test_merge_multiple_insert_clauses(spark, tmp_path):
    """Delta's multi-insert MERGE: several WHEN NOT MATCHED clauses
    apply first-match-wins — a conditional named-column insert claims
    its rows, the unconditional INSERT * takes the rest, and clause
    shapes may mix (missing columns null-fill)."""
    path = str(tmp_path / "mmi")
    LH.table_init(
        spark.createDataFrame([(1, "a", 1.0)], "k long, note string, v double"),
        path, "k", n_files=1)
    LSQL.register_table(spark, "fz_mmi", path, "k")
    spark.createDataFrame(
        [(2, "two", 2.0), (3, "three", 3.0), (4, "four", 4.0)],
        "k long, note string, v double").createOrReplaceTempView("fz_mmi_src")
    LSQL.sql(spark, """
        MERGE INTO fz_mmi t USING fz_mmi_src s ON t.k = s.k
        WHEN NOT MATCHED AND s.k = 3 THEN
            INSERT (k, note) VALUES (s.k, concat('special:', s.note))
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: (r.note, r.v) for r in LSQL.sql(
        spark, "SELECT * FROM fz_mmi").collect()}
    assert got == {1: ("a", 1.0), 2: ("two", 2.0),
                   3: ("special:three", None),   # claimed by clause 1
                   4: ("four", 4.0)}


def test_delete_predicate_literal_with_keywords(spark, fuzz_table):
    v0 = LSQL.sql(spark, "SELECT count(*) AS c FROM fz").first().c
    LSQL.sql(spark, "DELETE FROM fz WHERE note = 'no WHERE such AND row'")
    assert LSQL.sql(spark, "SELECT count(*) AS c FROM fz").first().c == v0
    LSQL.sql(spark, "DELETE FROM fz WHERE note = 'USING chg s'")
    assert LSQL.sql(spark, "SELECT count(*) AS c FROM fz").first().c == v0 - 1


def test_statements_survive_newlines_and_mixed_case(spark, fuzz_table):
    LSQL.sql(spark, "uPdAtE fz\n  sEt v = v + 0.5\n  wHeRe k = 1")
    assert LSQL.sql(
        spark, "SELECT v FROM fz WHERE k = 1").first().v == pytest.approx(1.5)


_KEYS = st.lists(st.integers(0, 7), min_size=1, max_size=6, unique=True)
_CLAUSE = st.sampled_from(["del", "setstar", "bump"])
_COND_C = st.one_of(st.none(), st.integers(0, 80))


@settings(max_examples=8, deadline=None)
@given(_KEYS, _KEYS, _CLAUSE, _COND_C, _CLAUSE, st.booleans(), _COND_C)
def test_merge_clause_semantics_vs_model(spark, tmp_path_factory,
                                         tkeys, skeys, kind1, c1, kind2,
                                         with_insert, ic):
    """MODEL-BASED check of SQL MERGE clause semantics: two MATCHED
    clauses (first-match-wins, the first optionally conditional on the
    source value), an optional conditional INSERT *, and a NOT MATCHED
    BY SOURCE DELETE — executed through the full statement path and
    replayed by a 15-line Python dict model. Catches classification
    and precedence bugs the hand-written journeys can't enumerate."""
    path = str(tmp_path_factory.mktemp("mfz") / "t")
    rows = [(k, float(k * 10)) for k in sorted(tkeys)]
    LH.table_init(spark.createDataFrame(rows, "k long, v double"),
                  path, "k", n_files=1)
    LSQL.register_table(spark, "m_fz", path, "k")
    src_rows = [(k, float(k * 7 + 1)) for k in sorted(skeys)]
    spark.createDataFrame(src_rows, "k long, v double") \
        .createOrReplaceTempView("m_fz_src")

    def clause_sql(kind, cond):
        c = f"AND s.v < {cond} " if cond is not None else ""
        if kind == "del":
            return f"WHEN MATCHED {c}THEN DELETE"
        if kind == "setstar":
            return f"WHEN MATCHED {c}THEN UPDATE SET *"
        return f"WHEN MATCHED {c}THEN UPDATE SET v = t.v + s.v"

    stmt = (
        "MERGE INTO m_fz t USING m_fz_src s ON t.k = s.k "
        + clause_sql(kind1, c1) + " " + clause_sql(kind2, None) + " "
        + (f"WHEN NOT MATCHED AND s.v < {ic} THEN INSERT * "
           if with_insert and ic is not None else
           "WHEN NOT MATCHED THEN INSERT * " if with_insert else "")
        + "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    LSQL.sql(spark, stmt)
    got = {r.k: r.v for r in LSQL.sql(spark, "SELECT * FROM m_fz").collect()}

    # the model
    model = dict(rows)
    src = dict(src_rows)
    out = {}
    for k, tv in model.items():
        if k not in src:
            continue  # NOT MATCHED BY SOURCE → DELETE
        sv = src[k]
        for kind, cond in ((kind1, c1), (kind2, None)):
            if cond is not None and not (sv < cond):
                continue
            if kind == "del":
                pass
            elif kind == "setstar":
                out[k] = sv
            else:
                out[k] = tv + sv
            break
        # no clause claimed it → carries unchanged? NO: both clauses
        # exhausted means the 2nd (unconditional) always claims — the
        # loop always breaks. (Guard: kind2 has no condition.)
    if with_insert:
        for k, sv in src.items():
            if k not in model and (ic is None or sv < ic):
                out[k] = sv
    assert got == out


def test_backtick_column_update_through_sql(spark, tmp_path):
    path = str(tmp_path / "bt")
    LH.table_init(
        spark.createDataFrame([(1, "x")], "k long, `when set` string"),
        path, "k", n_files=1)
    LSQL.register_table(spark, "fzbt", path, "k")
    LSQL.sql(spark, "UPDATE fzbt SET `when set` = 'z' WHERE k = 1")
    assert LSQL.sql(spark, "SELECT * FROM fzbt").first()["when set"] == "z"


def test_optimize_clause_keywords_in_quoted_values(spark, tmp_path):
    """advisor r7: OPTIMIZE's WHERE/ZORDER BY/INCREMENTAL clauses are
    located quote-aware (_kw_at_depth0), so a quoted partition VALUE
    that happens to spell 'INCREMENTAL' scopes the compaction to that
    partition instead of misparsing as OPTIMIZE INCREMENTAL."""
    path = str(tmp_path / "opt_kw")
    df = spark.createDataFrame(
        [(i, ["INCREMENTAL", "other", "third"][i % 3], float(i))
         for i in range(30)],
        "k long, part string, v double")
    LH.table_init(df, path, "k", n_files=6, partition_by=["part"])
    LSQL.register_table(spark, "fz_opt", path, "k")

    before = LH.files_at_version(path, LH.current_version(path))
    LSQL.sql(spark, "OPTIMIZE fz_opt WHERE part = 'INCREMENTAL'")
    v = LH.current_version(path)
    after = LH.files_at_version(path, v)
    # only the 'INCREMENTAL' partition's files were rewritten
    kept = [f for f in before if "part=other" in f or "part=third" in f]
    assert all(f in after for f in kept)
    assert not any("part=INCREMENTAL" in f and f in after for f in before)
    assert LH.read_version(spark, path, v).count() == 30

    # IN-list form with the hazardous value
    LSQL.sql(spark, "OPTIMIZE fz_opt WHERE part IN ('INCREMENTAL', 'other')")
    assert LH.read_version(spark, path, LH.current_version(path)).count() == 30

    # clause order stays loud, and real INCREMENTAL still rejects WHERE
    with pytest.raises(ValueError, match="no WHERE|out of order"):
        LSQL.sql(spark, "OPTIMIZE fz_opt WHERE part = 'other' INCREMENTAL")


def test_create_register_only_partitioned_by_mismatch(spark, tmp_path):
    """advisor r7: registering an EXISTING table (no AS <query>) with a
    PARTITIONED BY clause contradicting its real layout is loud, like
    the OR REPLACE CTAS path; the matching clause still registers."""
    path = str(tmp_path / "reg_pby")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, part string, v double")
    LH.table_init(df, path, "k", n_files=1, partition_by=["part"])

    with pytest.raises(ValueError, match="PARTITIONED BY does not match"):
        LSQL.sql(spark, "CREATE TABLE fz_reg USING lakehouse "
                        "TBLPROPERTIES ('key' 'k') PARTITIONED BY (v) "
                        f"LOCATION '{path}'")
    # truthful clause (or none) registers fine
    LSQL.sql(spark, "CREATE TABLE fz_reg USING lakehouse "
                    "TBLPROPERTIES ('key' 'k') PARTITIONED BY (part) "
                    f"LOCATION '{path}'")
    assert LSQL.sql(spark, "SELECT * FROM fz_reg").count() == 2


@settings(max_examples=150, deadline=None)
@given(_VALUES)
def test_optimize_clause_split_property(v):
    """Property form of the r8 OPTIMIZE hardening: whatever
    keyword-shaped payload a quoted WHERE value carries, the
    depth-0 scan must find ZORDER BY / INCREMENTAL only OUTSIDE the
    quotes."""
    tail = f" t WHERE part = '{v}' ZORDER BY (k)"
    z = _kw_at_depth0(tail, r"\bZORDER\s+BY\b")
    assert z == [tail.rindex("ZORDER BY (k)")]
    inc = _kw_at_depth0(f" t WHERE part = '{v} INCREMENTAL'",
                        r"\bINCREMENTAL\b")
    assert inc == []


def test_view_cache_skips_replan_and_invalidates_on_commit(spark, tmp_path):
    """The session view cache (review r10): re-CREATE-ing an unchanged
    table must NOT re-pay read_version (mergeSchema footer reads), a
    repeated AS-OF ref must reuse its pinned view, and ANY new commit
    must invalidate both so the next statement sees the new state."""
    path = str(tmp_path / "vc_tbl")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    LH.table_init(df, path, "k", n_files=1)
    create = (f"CREATE TABLE vc_t USING lakehouse "
              f"TBLPROPERTIES ('key' 'k') LOCATION '{path}'")
    LSQL.sql(spark, create)
    assert LSQL.sql(spark, "SELECT * FROM vc_t").count() == 2

    calls = []
    real = LH.read_version

    def counting(spark_, p, v, **kw):
        calls.append((p, v))
        return real(spark_, p, v, **kw)

    import bigdata06_spark.lakehouse_sql as LSQLM
    orig = LSQLM.LH.read_version
    LSQLM.LH.read_version = counting
    try:
        # warm re-CREATE + repeated AS-OF: zero read_version re-plans
        LSQL.sql(spark, create)
        LSQL.sql(spark, "SELECT * FROM vc_t VERSION AS OF 0 o").count()
        n_first_asof = len(calls)
        LSQL.sql(spark, create)
        LSQL.sql(spark, "SELECT * FROM vc_t VERSION AS OF 0 o").count()
        assert len(calls) == n_first_asof, "warm statements re-planned"
        # a commit invalidates: UPDATE bumps the version, and the next
        # read must see the new value (a stale cached view would not)
        LSQL.sql(spark, "UPDATE vc_t SET v = CAST(99.0 AS DOUBLE) "
                        "WHERE k = 1")
        got = {r["k"]: r["v"] for r in
               LSQL.sql(spark, "SELECT k, v FROM vc_t").collect()}
        assert got == {1: 99.0, 2: 20.0}
        # and the pinned v0 view still reads the ORIGINAL state
        old = {r["k"]: r["v"] for r in LSQL.sql(
            spark, "SELECT k, v FROM vc_t VERSION AS OF 0 o").collect()}
        assert old == {1: 10.0, 2: 20.0}
        # checkpoint squash does NOT bump current_version but changes
        # what a pinned version resolves to — the log-listing
        # fingerprint must invalidate the AS-OF cache (review r10: a
        # head-version guard misses this)
        LSQL.sql(spark, "SELECT k FROM vc_t VERSION AS OF 0 o").count()
        n_before = len(calls)
        LH.checkpoint_log(path)
        try:
            LSQL.sql(spark, "SELECT k FROM vc_t VERSION AS OF 0 o").count()
        except Exception:
            pass  # a squashed-away v0 may legitimately no longer read
        assert len(calls) > n_before, (
            "AS-OF cache served a stale pinned view across a "
            "checkpoint squash without re-planning")
    finally:
        LSQLM.LH.read_version = orig


# ------------------------------------------------ one lexer, one lookup

# payloads that would split a statement if the lexer looked inside a
# quoted literal or a backtick identifier (no quote chars of their own)
_LEX_HAZARDS = st.lists(
    st.sampled_from([",", "AND", "and", "WHEN", "When", "(", ")", "((", "x",
                     "1", "=", " ", "a,b", "R AND D", "New York"]),
    min_size=1, max_size=6).map(" ".join)
_ATOM = st.one_of(
    st.sampled_from(["a", "t.k", "s.v", "x1", "42", "=", "+", "<"]),
    _LEX_HAZARDS.map(lambda v: f"'{v}'"),
    _LEX_HAZARDS.map(lambda v: f"'{v}''{v}'"),     # doubled-quote escape
    _LEX_HAZARDS.map(lambda v: f'"{v}"'),
    _LEX_HAZARDS.map(lambda v: f"`{v}`"),
    # a paren group: depth > 0, so its separators never split
    st.lists(st.sampled_from(["f(a, b)", ",", "AND", "WHEN", "x", "'('"]),
             min_size=1, max_size=4).map(lambda ws: "(" + " ".join(ws) + ")"),
)
_PART = st.lists(_ATOM, min_size=1, max_size=5).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_PART, min_size=1, max_size=5),
       st.sampled_from([(",", ", "), (r"\bAND\b", " AND "),
                        (r"\bWHEN\b", " WHEN ")]))
def test_scanner_splits_only_outside_quotes(parts, sep):
    """Property of the one lexer: on text whose quoted literals and
    backtick identifiers carry `,`, AND, WHEN and parentheses, the
    split points are exactly the separators written between the
    parts — none falls inside a quote or a paren group — and the
    parts plus the separators rebuild the input."""
    from bigdata06_spark.lakehouse_sql import _scan, _split

    pattern, joiner = sep
    s = joiner.join(parts)
    assert _split(s, pattern) == parts
    assert joiner.join(_split(s, pattern)) == s
    want, off = [], 0
    for p in parts[:-1]:
        off += len(p)
        want.append(off + joiner.index(joiner.strip()))
        off += len(joiner)
    assert _kw_at_depth0(s, pattern) == want
    # at any depth the scanner still never starts a match in a quote
    quoted = set()
    quote = None
    for i, c in enumerate(s):
        if quote:
            quoted.add(i)
            quote = None if c == quote else quote
        elif c in "'\"`":
            quote = c
            quoted.add(i)
    assert not any(m.start() in quoted
                   for m in _scan(s, pattern, any_depth=True))


_PVAL = st.lists(st.sampled_from(["a", "b", ",", "AND", "and", "x y", "(", ")",
                                  "New York", "R AND D", "it''s", "1"]),
                 min_size=1, max_size=4).map(" ".join)


@settings(max_examples=200, deadline=None)
@given(st.lists(_PVAL, min_size=1, max_size=4), _PVAL)
def test_partition_predicate_keeps_quoted_values_whole(in_vals, eq_val):
    """OPTIMIZE WHERE's partition predicate: quoted values containing
    commas, AND, spaces and parentheses come back whole, doubled
    quotes unescaped."""
    from bigdata06_spark.lakehouse_sql import _parse_partition_predicate

    listed = ", ".join(f"'{v}'" for v in in_vals)
    cond = f"part IN ({listed}) AND `city` = '{eq_val}'"
    got = _parse_partition_predicate(cond)
    assert got == {"part": [v.replace("''", "'") for v in in_vals],
                   "city": [eq_val.replace("''", "'")]}


def test_partition_predicate_quoted_and_and_space():
    from bigdata06_spark.lakehouse_sql import _parse_partition_predicate

    assert _parse_partition_predicate(
        "region = 'R AND D' AND city = 'New York'") == {
            "region": ["R AND D"], "city": ["New York"]}
    assert _parse_partition_predicate("part IN ('a,b', 'c')") == {
        "part": ["a,b", "c"]}
    # a predicate that is not one literal per conjunct stays loud
    with pytest.raises(ValueError):
        _parse_partition_predicate("part = 'a' OR part = 'b'")


def test_insert_overwrite_table_keyword(spark, tmp_path):
    """`INSERT OVERWRITE TABLE <tbl>` is in the grammar: the optional
    TABLE keyword must not be taken for the table name (which sent
    the statement to spark.sql and its UNSUPPORTED_INSERT error)."""
    path = str(tmp_path / "iot")
    LH.table_init(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, note string"),
        path, "k", n_files=1)
    LSQL.register_table(spark, "fz_iot", path, "k")
    v0 = LH.current_version(path)
    LSQL.sql(spark, "INSERT OVERWRITE TABLE fz_iot SELECT 7L AS k, 'z' AS note")
    assert LH.current_version(path) == v0 + 1
    got = [tuple(r) for r in LSQL.sql(spark, "SELECT * FROM fz_iot").collect()]
    assert got == [(7, "z")]


def test_optimize_where_in_list_with_quoted_comma(spark, tmp_path):
    """`OPTIMIZE ... WHERE part IN ('a,b', 'c')` compacts BOTH listed
    partitions (the comma inside the literal is data) and leaves the
    unlisted one's files in place."""
    path = str(tmp_path / "opt_in")
    df = spark.createDataFrame(
        [(i, ["a,b", "c", "other"][i % 3], float(i)) for i in range(30)],
        "k long, part string, v double")
    LH.table_init(df, path, "k", n_files=6, partition_by=["part"])
    LSQL.register_table(spark, "fz_opt_in", path, "k")
    before = LH.files_at_version(path, LH.current_version(path))

    def files_of(files, value):
        return {f for f in files
                if LH._pvals_of_rel(f).get("part") == value}

    assert len(files_of(before, "a,b")) > 1 and len(files_of(before, "c")) > 1
    LSQL.sql(spark, "OPTIMIZE fz_opt_in WHERE part IN ('a,b', 'c')")
    after = set(LH.files_at_version(path, LH.current_version(path)))
    assert not files_of(before, "a,b") & after   # rewritten
    assert not files_of(before, "c") & after     # rewritten
    assert files_of(before, "other") <= after    # carried over
    assert LH.read_version(spark, path, LH.current_version(path)).count() == 30


def test_alter_add_columns_bad_type_commits_nothing(spark, tmp_path):
    """A bad column spec anywhere in ADD COLUMNS fails before any
    commit: the version is unchanged and the table still reads."""
    path = str(tmp_path / "addc_bad")
    LH.table_init(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                  path, "k", n_files=1)
    LSQL.register_table(spark, "fz_addc_bad", path, "k")
    v0 = LH.current_version(path)
    with pytest.raises(ValueError, match="notatype"):
        LSQL.sql(spark, "ALTER TABLE fz_addc_bad ADD COLUMNS (a int, b notatype)")
    with pytest.raises(ValueError, match="already exists"):
        LSQL.sql(spark, "ALTER TABLE fz_addc_bad ADD COLUMNS (a int, v string)")
    assert LH.current_version(path) == v0
    assert LH.read_version(spark, path, v0).columns == ["k", "v"]
    assert LSQL.sql(spark, "SELECT * FROM fz_addc_bad").count() == 1


def test_alter_add_columns_is_one_version(spark, tmp_path):
    path = str(tmp_path / "addc_ok")
    LH.table_init(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                  path, "k", n_files=1)
    LSQL.register_table(spark, "fz_addc_ok", path, "k")
    v0 = LH.current_version(path)
    LSQL.sql(spark, "ALTER TABLE fz_addc_ok ADD COLUMNS (tag string, "
                    "amt decimal(10,2))")
    assert LH.current_version(path) == v0 + 1
    got = LSQL.sql(spark, "SELECT * FROM fz_addc_ok")
    assert got.columns == ["k", "v", "tag", "amt"]
    assert got.first()["amt"] is None


#: (DDL type, a SQL literal of it) — nested types with their own
#: commas, CHAR/VARCHAR (read as STRING), both timestamp kinds, and
#: the types no data file can hold (interval, void, variant)
_ADD_TYPES = [
    ("array<int>", "array(1, 2)"), ("varchar(3)", "'abc'"),
    ("char(2)", "'ab'"), ("map<string,int>", "map('a', 1)"),
    ("struct<a:int,b:string>", "named_struct('a', 1, 'b', 'x')"),
    ("array<array<string>>", "array(array('x'))"),
    ("timestamp_ntz", "timestamp_ntz'2020-01-01 01:02:03'"),
    ("timestamp", "timestamp'2020-01-01 01:02:03'"),
    ("date", "date'2020-01-02'"), ("decimal(5,1)", "1.5"),
    ("binary", "X'01'"), ("interval day", "INTERVAL '1' DAY"),
    ("void", "NULL"), ("variant", "parse_json('1')"),
]


@pytest.mark.parametrize("key", ["k", None], ids=["keyed", "keyless"])
def test_alter_add_column_then_insert(spark, tmp_path, key):
    """For every added type, either ALTER ... ADD COLUMNS and a later
    INSERT both succeed and the value reads back, or the ALTER fails
    and commits nothing. The keyed table inserts through
    `lakehouse.append`, the key-less one through the
    format("lakehouse") writer; both read the target schema through
    the session-less DataSource."""
    path = str(tmp_path / "addc_ins")
    name = f"fz_addc_ins_{key or 'nokey'}"
    LH.table_init(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                  path, "k", n_files=1)
    LSQL.register_table(spark, name, path, key)
    added = 0
    for i, (ddl, lit) in enumerate(_ADD_TYPES):
        v0 = LH.current_version(path)
        try:
            LSQL.sql(spark, f"ALTER TABLE {name} ADD COLUMNS (c{i} {ddl})")
        except ValueError:
            assert LH.current_version(path) == v0, ddl
            continue
        added += 1
        LSQL.sql(spark, f"INSERT INTO {name} (k, v, c{i}) SELECT {100 + i}, 0.0, {lit}")
        got = LSQL.sql(spark, f"SELECT c{i} FROM {name} WHERE k = {100 + i}").collect()
        want = spark.sql(f"SELECT CAST({lit} AS {ddl})").first()[0]
        assert [r[0] for r in got] == [want], ddl
    assert added == 11  # all but interval, void and variant
    assert LSQL.sql(spark, f"SELECT * FROM {name}").count() == 1 + added
