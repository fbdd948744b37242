"""Property-based tests (hypothesis): semantics that must hold for
ARBITRARY inputs, not just the fixture corpus. Each example ships a
whole LIST of rows through one Spark job (per-example JVM round-trips
dominate, so few examples × many rows beats many × few); deadlines are
off because Spark job latency is noisy.
"""

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# doubles on the exact-decimal grid the engine's determinism rules
# assume (≤6 decimals, bounded magnitude — money-like values)
money = st.integers(min_value=-(10**12), max_value=10**12).map(lambda i: i / 1e6)


@PROP
@given(vals=st.lists(money, min_size=1, max_size=60), n=st.integers(0, 6))
def test_rnd_matches_duckdb_halfup(spark, vals, n):
    """`qutil.rnd` (the floor(x·10^n + 0.5)/10^n half-up) must be
    bit-identical in Spark and DuckDB for every representable input —
    the invariant every rounded oracle in the registry leans on."""
    from bigdata06_spark.queries.qutil import rnd, rnd_sql

    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [r.y for r in df.select(rnd(F.col("x"), n).alias("y")).collect()]
    con = duckdb.connect()
    exp = [
        con.sql(f"SELECT {rnd_sql('x', n)} AS y FROM (SELECT unnest(?::DOUBLE[]) AS x)",
                params=[vals]).df()["y"].tolist()
    ][0]
    assert got == exp


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.integers(-100, 100)),
        min_size=1,
        max_size=80,
    )
)
def test_dedup_first_wins_is_min_by_order(spark, rows):
    """R1 determinism: for any multiset of (key, order, value) rows,
    dedup keeps exactly the row with the smallest (order, value) per
    key — the reference's arrival-order 'first', made reproducible."""
    from bigdata06_spark.operators.relational import dedup_first_wins

    df = spark.createDataFrame(rows, ["k", "ord", "v"])
    got = {
        (r.k, r.ord, r.v)
        for r in dedup_first_wins(df, ["k"], [F.col("ord"), F.col("v")]).collect()
    }
    expected = {}
    for k, o, v in sorted(rows, key=lambda t: (t[1], t[2])):
        expected.setdefault(k, (k, o, v))
    assert got == set(expected.values())


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)), min_size=1, max_size=100
    ),
    n_salts=st.integers(2, 9),
)
def test_salted_agg_equals_direct(spark, rows, n_salts):
    """Skew salting must be a pure plan transformation: two-phase
    salted aggregation == direct groupBy for ANY input and salt
    count (including heavily duplicated hot keys)."""
    from bigdata06_spark.operators.scale import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    direct = {
        (r.k, r.v_sum, r.v_count, r.v_min, r.v_max)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("v_sum"),
            F.count("v").alias("v_count"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
        .collect()
    }
    salted = {
        (r.k, r.v_sum, r.v_count, r.v_min, r.v_max)
        for r in salted_agg(
            df, "k", {"v": "sum"}, n_salts=n_salts
        ).join(
            salted_agg(df, "k", {"v": "count"}, n_salts=n_salts), "k"
        ).join(
            salted_agg(df, "k", {"v": "min"}, n_salts=n_salts), "k"
        ).join(
            salted_agg(df, "k", {"v": "max"}, n_salts=n_salts), "k"
        ).collect()
    }
    assert salted == direct


def _greedy_merge_py(syms, a, b):
    """Reference greedy left-to-right BPE pair merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@PROP
@given(
    words_=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=12
    ),
    n_merges=st.integers(1, 3),
)
def test_bpe_train_greedy_matches_python_reference(spark, words_, n_merges):
    """The relational island-parity merge must equal the sequential
    greedy merge for ARBITRARY inputs — including the overlap-heavy
    a=b runs ('aaaa') the parity trick exists for. Replays the whole
    trainer against a pure-Python reference implementation."""
    from collections import Counter

    from bigdata06_spark.operators.textops import bpe_train

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words_)], ["doc_id", "text"]
    )
    got = {
        r.round: (r.pair_left, r.pair_right, r.pair_count)
        for r in bpe_train(docs, n_merges=n_merges).collect()
    }

    vocab = Counter(words_)  # each doc is one word
    segs = {w: list(w) for w in vocab}
    expect = {}
    for r in range(n_merges):
        counts = Counter()
        for w, wc in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += wc
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        expect[r] = (a, b, c)
        segs = {w: _greedy_merge_py(s, a, b) for w, s in segs.items()}
    assert got == expect


@PROP
@given(
    n_vec=st.integers(2, 20),
    n_blocks=st.sampled_from([1, 2, 3, 7, 16]),
    seed=st.integers(0, 10**6),
)
def test_allpairs_blocked_block_count_invariant(spark, n_vec, n_blocks, seed):
    """Tiling is pure orchestration: ANY block count must produce the
    identical pair set (every unordered pair exactly once)."""
    import random

    from bigdata06_spark.operators.similarity import allpairs_blocked

    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n_vec)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted(
        (r.vec_a, r.vec_b, r.sim)
        for r in allpairs_blocked(df, threshold=-2.0, n_blocks=n_blocks).collect()
    )
    assert len(got) == n_vec * (n_vec - 1) // 2
    base = sorted(
        (r.vec_a, r.vec_b, r.sim)
        for r in allpairs_blocked(df, threshold=-2.0, n_blocks=4).collect()
    )
    assert got == base


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(ops=st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "insert", "optimize", "checkpoint",
                         "dv_delete", "mor_update", "vacuum"]),
        st.lists(st.integers(0, 49), min_size=1, max_size=8),
        st.integers(0, 10**6),
    ),
    min_size=1, max_size=6,
))
def test_lakehouse_model_based_random_op_sequences(spark, tmp_path_factory, ops):
    """MODEL-BASED check of the table format: a random sequence of
    upsert/delete/insert/OPTIMIZE/log-checkpoint operations — plus the
    merge-on-read writers (deletion-vector delete, DV update) and
    VACUUM — must leave the table equal to a plain dict model applying
    the same ops, and after every op the CURRENT version must read
    back exactly the model state (log replay, COW rewrites, DV
    subtraction, spent-DV drop on rewrite, file carry-over, compaction
    and checkpoint squashing, dead-file reclaim all composed). Keys
    are drawn from a small domain so COW and MOR writers constantly
    touch the same files."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path_factory.mktemp("lh_model") / "t")
    init_rows = [(k, float(k * 10)) for k in range(0, 30)]
    model = dict(init_rows)
    df = spark.createDataFrame(init_rows, "k long, v double")
    LH.table_init(df, path, "k", n_files=4)

    for op, keys, val in ops:
        keys = sorted(set(keys))
        if op == "upsert":
            rows = [(k, float(val + k)) for k in keys]
            rel = spark.createDataFrame(rows, "k long, v double")
            LH.merge(spark, path, "k", updates=rel, inserts=rel)
            for k, v in rows:
                model[k] = v
        elif op == "delete":
            rel = spark.createDataFrame([(k,) for k in keys], "k long")
            LH.merge(spark, path, "k", delete_keys=rel)
            for k in keys:
                model.pop(k, None)
        elif op == "insert":
            rows = [(k, float(val - k)) for k in keys]
            rel = spark.createDataFrame(rows, "k long, v double")
            LH.merge(spark, path, "k", inserts=rel)
            for k, v in rows:
                model.setdefault(k, v)  # insert leg: existing keys untouched
        elif op == "dv_delete":
            klist = ", ".join(str(k) for k in keys)
            LH.delete_where(spark, path, f"k IN ({klist})")
            for k in keys:
                model.pop(k, None)
        elif op == "mor_update":
            klist = ", ".join(str(k) for k in keys)
            LH.update_where(
                spark, path, "k", {"v": f"v + {val}"}, f"k IN ({klist})"
            )
            for k in keys:
                if k in model:
                    model[k] = model[k] + val
        elif op == "optimize":
            LH.optimize(spark, path, "k", n_files=2)
        elif op == "checkpoint":
            LH.checkpoint_log(path)
        elif op == "vacuum":
            LH.vacuum(path, keep_versions=1)
        got = {
            r.k: r.v
            for r in LH.read_version(spark, path, LH.current_version(path)).collect()
        }
        assert got == model, f"after {op}({keys}): {got} != {model}"


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(ops=st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "insert", "optimize", "checkpoint",
                         "dv_delete", "mor_update"]),
        st.lists(st.integers(0, 49), min_size=1, max_size=8),
        st.integers(0, 10**6),
    ),
    min_size=1, max_size=5,
))
def test_manifest_tracks_random_op_sequences(spark, tmp_path_factory, ops):
    """MODEL-BASED check of the relational manifest: after EVERY
    operation of a random COW/MOR/OPTIMIZE/checkpoint sequence,
    `refresh_manifest` (full or incremental — whichever the fold
    picks) must mirror the driver replay exactly — file set, DV
    lists, stats bounds — and `read_at_manifest` must read back the
    same dict-model state as `read_version`. This is the guarantee
    that lets a planner trust the manifest instead of the log."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path_factory.mktemp("lh_mf_model") / "t")
    init_rows = [(k, float(k * 10)) for k in range(0, 30)]
    model = dict(init_rows)
    df = spark.createDataFrame(init_rows, "k long, v double")
    LH.table_init(df, path, "k", n_files=4, stats_cols=["k"])
    M.refresh_manifest(spark, path)

    for op, keys, val in ops:
        keys = sorted(set(keys))
        if op == "upsert":
            rows = [(k, float(val + k)) for k in keys]
            rel = spark.createDataFrame(rows, "k long, v double")
            LH.merge(spark, path, "k", updates=rel, inserts=rel)
            model.update(rows)
        elif op == "delete":
            rel = spark.createDataFrame([(k,) for k in keys], "k long")
            LH.merge(spark, path, "k", delete_keys=rel)
            for k in keys:
                model.pop(k, None)
        elif op == "insert":
            rows = [(k, float(val - k)) for k in keys]
            rel = spark.createDataFrame(rows, "k long, v double")
            LH.merge(spark, path, "k", inserts=rel)
            for k, v in rows:
                model.setdefault(k, v)
        elif op == "dv_delete":
            klist = ", ".join(str(k) for k in keys)
            LH.delete_where(spark, path, f"k IN ({klist})")
            for k in keys:
                model.pop(k, None)
        elif op == "mor_update":
            klist = ", ".join(str(k) for k in keys)
            LH.update_where(
                spark, path, "k", {"v": f"v + {val}"}, f"k IN ({klist})"
            )
            for k in keys:
                if k in model:
                    model[k] = model[k] + val
        elif op == "optimize":
            LH.optimize(spark, path, "k", n_files=2)
        elif op == "checkpoint":
            LH.checkpoint_log(path)

        M.refresh_manifest(spark, path)
        v = LH.current_version(path)
        snap = LH.snapshot(path, v)
        files, dvs = sorted(snap.files), snap.dvs
        stats = LH.file_stats_at(path, v)
        rows_ = {x["file"]: x for x in M.manifest_df(spark, path).collect()}
        assert sorted(rows_) == files, f"after {op}: file set diverged"
        for f, lst in dvs.items():
            assert sorted(rows_[f]["dv"]) == sorted(lst), \
                f"after {op}: DV list diverged for {f}"
        for f, row in rows_.items():
            s = stats.get(f, {})
            if "k" in s and s["k"][0] is not None:
                assert row["mnn_k"] == float(s["k"][0])
                assert row["mxn_k"] == float(s["k"][1])
        got = {r.k: r.v for r in M.read_at_manifest(spark, path).collect()}
        assert got == model, f"after {op}({keys}): {got} != {model}"


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rg_size=st.sampled_from([97, 250, 333]),
    del_keys=st.lists(st.integers(0, 999), min_size=0, max_size=60,
                      unique=True),
    upd_keys=st.lists(st.integers(0, 999), min_size=0, max_size=20,
                      unique=True),
)
def test_datasource_row_group_splits_random_dvs(spark, tmp_path_factory,
                                                rg_size, del_keys, upd_keys):
    """PROPERTY check of the row-group-split DataSource read against
    random deletion-vector patterns: a multi-row-group file accrues
    DVs from arbitrary delete/update key sets (positions land in
    arbitrary splits, including group boundaries), and the
    format('lakehouse') read — one task per ROW GROUP with per-split
    DV rebasing — must return exactly what the JVM read_version
    returns. This is the file-global→split-local index arithmetic the
    r7 split feature lives or dies on."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path_factory.mktemp("rgfz") / "t")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": list(range(1000)),
                  "v": [float(i) for i in range(1000)]}),
        os.path.join(path, "big.parquet"), row_group_size=rg_size)
    LH.convert_to_lakehouse(spark, path, stats_cols=["k"])

    if del_keys:
        LH.delete_where(spark, path,
                        f"k IN ({','.join(map(str, sorted(del_keys)))})")
    if upd_keys:
        LH.update_where(spark, path, "k", {"v": "v + 1000"},
                        f"k IN ({','.join(map(str, sorted(upd_keys)))})")

    v = LH.current_version(path)
    want = sorted(map(tuple, LH.read_version(spark, path, v)
                      .select("k", "v").collect()))
    got = sorted(map(tuple, spark.read.format("lakehouse").load(path)
                     .select("k", "v").collect()))
    assert got == want
    # and the read really was split below file granularity
    n_parts = spark.read.format("lakehouse").load(path).rdd.getNumPartitions()
    assert n_parts > len(LH.files_at_version(path, v)) - 2  # rg splits active


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(ops=st.lists(
    st.sampled_from(["append", "upsert", "dv_delete", "optimize",
                     "checkpoint", "add_col", "rename_col", "restore"]),
    min_size=1, max_size=6,
))
# a fixed history that exercises every fold rule the models can see:
# DVs carried by a checkpoint, then spent by a rewrite, a rename that
# must keep its column's position, and a RESTORE pin
@example(ops=["dv_delete", "checkpoint", "upsert", "add_col", "add_col",
              "rename_col", "restore"])
def test_snapshot_fold_matches_models(spark, tmp_path_factory, ops):
    """MODEL CHECK of the log fold (LH.snapshot) at EVERY surviving
    version of a random history that mixes appends, COW/MOR DML,
    OPTIMIZE, schema evolution, checkpoint squashes and RESTORE pins,
    on a partitioned, statted, bloomed table:

    - file set, DV map, stats and blooms equal the manifest that
      INCREMENTAL `refresh_manifest(to_version=v)` steps build — the
      relational `_fold_manifest`, an independent implementation of
      the add/remove/DV rules (reset entries force its full rebuild);
    - the replayed read (`use_manifest=False`) returns exactly an
      in-test key → value model;
    - the logical column order equals a model list kept by the
      add_col / rename_col / restore ops."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path_factory.mktemp("lh_fold_model") / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k), 100 + k % 7) for k in range(40)],
        "k long, part int, v double, cust long")
    LH.table_init(df, path, "k", n_files=3, partition_by=["part"],
                  stats_cols=["k", "v"], bloom_cols=["cust"])
    rows = {k: float(k) for k in range(40)}
    cols = ["k", "part", "v", "cust"]
    hist = {0: (dict(rows), list(cols))}
    nxt = 1000
    ncol = 0
    for op in ops:
        try:
            if op == "append":
                new = [(nxt + i, i % 3, 1.0, 200 + i) for i in range(4)]
                LH.append(spark, path, "k", spark.createDataFrame(
                    new, "k long, part int, v double, cust long"))
                rows.update((k, v) for k, _p, v, _c in new)
                nxt += 10
            elif op == "upsert":
                rel = spark.createDataFrame(
                    [(3, 0, 9.9, 105), (nxt, 1, 2.0, 300)],
                    "k long, part int, v double, cust long")
                LH.merge(spark, path, "k", updates=rel, inserts=rel)
                rows.update({3: 9.9, nxt: 2.0})
                nxt += 10
            elif op == "dv_delete":
                LH.delete_where(spark, path, "k % 11 = 5")
                rows = {k: v for k, v in rows.items() if k % 11 != 5}
            elif op == "optimize":
                LH.optimize(spark, path, "k", n_files=2)
            elif op == "checkpoint":
                LH.checkpoint_log(path)
            elif op == "add_col":
                LH.add_column(path, f"extra{ncol}", "double")
                cols.append(f"extra{ncol}")
                ncol += 1
            elif op == "rename_col":
                # the OLDEST extra column: a rename must keep its place
                old = next((c for c in cols if c.startswith("extra")), None)
                if old is None:
                    continue
                LH.rename_column(spark, path, old, "renamed" + old[5:])
                cols[cols.index(old)] = "renamed" + old[5:]
            elif op == "restore":
                to = max(0, LH.current_version(path) - 1)
                LH.restore(path, to)
                rows, cols = dict(hist[to][0]), list(hist[to][1])
        except ValueError:
            continue  # op illegal in this state (e.g. restore into a squash)
        hist[LH.current_version(path)] = (dict(rows), list(cols))

    latest = LH.current_version(path)
    surviving = [v for v in range(latest + 1)
                 if LH._read_entry(path, v, bulk=()) is not None]
    assert surviving == list(range(surviving[0], latest + 1))
    for v in surviving:
        M.refresh_manifest(spark, path, to_version=v)
        s = LH.snapshot(path, v)
        bcols = list(s.bloom["cols"])
        schema = M._manifest_schema(s.pby, s.scols, bcols)
        mf = {r["file"]: r for r in M.manifest_df(spark, path)
              .select(*schema.fieldNames()).collect()}
        assert sorted(mf) == sorted(s.files), f"files diverged at v{v}"
        assert {f: sorted(r["dv"]) for f, r in mf.items() if r["dv"]} == \
            {f: sorted(d) for f, d in s.dvs.items() if d}, f"dvs v{v}"
        want = M._rows_for(sorted(s.files), s.stats, s.dvs, s.pby, s.scols,
                           bcols, s.blooms)
        for w in want:
            assert list(mf[w[0]])[:-1] == list(w)[:-1], \
                f"stats/blooms diverged at v{v} for {w[0]}"
        got = {r.k: r.v for r in LH.read_version(
            spark, path, v, use_manifest=False).collect()}
        assert got == hist[v][0], f"rows diverged at v{v}"
        assert s.logical_cols == hist[v][1], f"logical cols v{v}"


@PROP
@given(
    keys=st.lists(st.integers(-40, 40), min_size=1, max_size=300),
    capacity=st.integers(2, 12),
    n_parts=st.integers(1, 6),
)
def test_misra_gries_candidate_superset_any_stream(spark, keys, capacity, n_parts):
    """For ANY stream (negative keys included — sentinels are a flag
    column, not an in-band key), capacity, and partitioning: every key
    with true count > N/(capacity+1) must survive in the candidate
    union, every per-partition summary must stay <= capacity counters,
    and the sentinel rows must sum to exactly N — the three facts
    agg_heavy_hitters' exactness proof rests on."""
    from collections import Counter

    from bigdata06_spark.operators.relational import misra_gries_candidates

    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(n_parts)
    summ = misra_gries_candidates(df, "k", capacity).collect()
    cand = {r["k"] for r in summ if not r["is_sentinel"]}
    total = sum(r["mg_count"] for r in summ if r["is_sentinel"])
    assert total == len(keys)
    per_part_rows = [r for r in summ if not r["is_sentinel"]]
    assert len(per_part_rows) <= n_parts * capacity
    counts = Counter(keys)
    bound = len(keys) / (capacity + 1)
    for k, c in counts.items():
        if c > bound:
            assert k in cand, (
                f"key {k} (count {c} > N/(cap+1) = {bound:.1f}) lost"
            )


@PROP
@given(
    build=st.lists(st.integers(-(10**6), 10**6), min_size=1, max_size=100),
    probe=st.lists(st.integers(-(10**6), 10**6), min_size=1, max_size=100),
)
def test_bloom_probe_never_false_negative(spark, build, probe):
    """For ANY build/probe key sets: every probe key that IS in the
    build set must pass the bloom predicate (no false negatives — the
    property that makes filter-then-join == join)."""
    from bigdata06_spark.operators.relational import bloom_probe_expr

    bdf = spark.createDataFrame([(k,) for k in build], "bk long")
    pdf = spark.createDataFrame([(k,) for k in set(probe) | set(build)], "pk long")
    kept = {
        r["pk"]
        for r in pdf.filter(
            bloom_probe_expr(bdf, "bk", "pk", bits=1024)
        ).collect()
    }
    assert set(build) <= kept, f"bloom dropped true keys: {set(build) - kept}"


@settings(max_examples=300, deadline=None)
@given(seq=st.lists(
    st.sampled_from(["view", "click", "purchase", "signup", "error"]),
    min_size=0, max_size=60,
))
def test_pattern_dfa_equals_regex_reference(seq):
    """For ANY event-type sequence, the `view+ click purchase` DFA
    (the streaming MATCH_RECOGNIZE state machine, run one
    pattern_step per event) must agree with an independent regex
    reference: encode the stream as one char per event and count
    non-overlapping greedy matches of v+cp, plus the total views
    inside matches. Pure-Python, no Spark — pins the automaton
    semantics the 3-micro-batch streaming test then carries through
    the state store."""
    import re as _re

    from bigdata06_spark.streaming.stateful import pattern_step

    st_ = (0, 0, 0, 0)
    for et in seq:
        st_ = pattern_step(st_, et)
    _, _, matches, views_matched = st_

    code = {"view": "v", "click": "c", "purchase": "p",
            "signup": "s", "error": "e"}
    s = "".join(code[e] for e in seq)
    ref = _re.findall(r"(v+)cp", s)
    assert matches == len(ref)
    assert views_matched == sum(len(r) for r in ref)


def test_cdc_chunks_reassemble_to_original_text():
    """CDC chunking invariant: the chunks of every document are
    disjoint, covering, and order-preserving — reassembling them
    (chunk texts joined by single spaces, in chunk order) must
    reproduce the original text exactly, for EVERY fixture document.
    Checked on the oracle's relational form; the Spark side equals it
    under the registered value-hash gate."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    bad = con.sql("""
        WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                   FROM documents),
        tok AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
                       unnest(ws) AS tok FROM w),
        th AS (SELECT doc_id, pos, tok,
                      list_reduce(list_prepend(0::BIGINT,
                        list_transform(string_split(tok, ''),
                                       ch -> ascii(ch))),
                        (acc, ch) -> (acc * 31 + ch) % 1000000007) AS h
               FROM tok),
        ck AS (SELECT doc_id, pos, tok,
                      sum(CASE WHEN pos = 0 OR h % 16 = 0
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS chunk
               FROM th),
        chunks AS (SELECT doc_id, chunk,
                          string_agg(tok, ' ' ORDER BY pos) AS ctext
                   FROM ck GROUP BY 1, 2),
        rebuilt AS (SELECT doc_id,
                           string_agg(ctext, ' ' ORDER BY chunk) AS t2
                    FROM chunks GROUP BY doc_id)
        SELECT count(*) FROM rebuilt JOIN documents USING (doc_id)
        WHERE t2 <> text
    """).fetchone()[0]
    assert bad == 0



@settings(PROP, max_examples=3)
@given(
    n=st.integers(1, 60),
    edges=st.lists(st.tuples(st.integers(0, 59), st.integers(0, 59)), max_size=90),
)
def test_connected_components_matches_union_find(spark, n, edges):
    """Min-label propagation labels every node with the min id of its
    union-find component, for any graph: isolated nodes, duplicate and
    reversed pairs and self-loops included. (The 41-node chain is in
    `test_operators_unit.test_star_components_equal_label_propagation`.)"""
    from bigdata06_spark.operators.dedup import connected_components
    from tests.oracle_utils import union_find_components

    edges = [(a % n, b % n) for a, b in edges]
    pairs = edges + [(b, a) for a, b in edges[::3]] + edges[:2]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {r.doc_id: r.component for r in connected_components(df, nodes, max_iter=n).collect()}
    assert got == union_find_components(n, pairs)


def _mutual_top5(rows, max_deg):
    """Brute-force mutual top-5 over distinct (part, supplier) rows:
    parts with more than `max_deg` suppliers dropped, shared-part
    counts per supplier pair, top-5 by (count desc, id asc)."""
    from collections import Counter, defaultdict

    sups = defaultdict(set)
    for p, s in rows:
        sups[p].add(s)
    co = Counter((a, b) for ss in sups.values() if len(ss) <= max_deg
                 for a in ss for b in ss if a != b)
    ranked = defaultdict(list)
    for (a, b), c in co.items():
        ranked[a].append((-c, b))
    top = {a: {b for _, b in sorted(r)[:5]} for a, r in ranked.items()}
    return {(a, b) for a, bs in top.items() for b in bs if a < b and a in top[b]}


@settings(PROP, max_examples=4)
@given(rows=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 11)), min_size=1, max_size=120))
def test_mutual_topk_edges_matches_brute_force(spark, rows):
    """`mutual_topk_edges` keeps exactly the pairs in each other's
    top-5 by shared-part count, ties broken on supplier id. Twelve
    suppliers on ten parts make count ties common; one hot part with
    more than `COSUPPLY_MAX_DEG` suppliers must add no pair."""
    from bigdata06_spark.operators.graph import COSUPPLY_MAX_DEG, mutual_topk_edges

    hot = [(99, 100 + i) for i in range(COSUPPLY_MAX_DEG + 1)]
    li = spark.createDataFrame(rows + hot, "l_partkey long, l_suppkey long")
    got = {(r.sa, r.sb) for r in mutual_topk_edges(li).collect()}
    assert got == _mutual_top5(rows + hot, COSUPPLY_MAX_DEG)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    string_key=st.booleans(),
    n_init=st.integers(1, 3),
    vintages=st.lists(
        st.sampled_from(["append", "format_append", "null_keys", "dv_delete", "rename"]),
        max_size=3, unique=True),
    upd=st.dictionaries(st.integers(-10, 70), st.integers(0, 999), max_size=8),
    dels=st.lists(st.integers(-10, 70), max_size=5),
)
@example(string_key=False, n_init=3,
         vintages=["rename", "format_append", "null_keys"],
         upd={0: 1, 29: 2, 45: 3}, dels=[30, 70])
@example(string_key=True, n_init=2, vintages=["dv_delete", "append"],
         upd={0: 1, 39: 2}, dels=[-10, 14])
def test_merge_footer_ranges_are_sound(spark, tmp_path_factory, string_key,
                                       n_init, vintages, upd, dels):
    """MERGE plans its rewrite set from footer key ranges. On random
    1–6-file tables mixing vintages (a Spark append, a pyarrow-written
    `format("lakehouse")` append whose footer has no Spark schema, a
    file whose key is all NULL, DV-deleted rows, the key renamed
    between vintages), with int or string keys and touched keys inside
    and outside every file's range: the merged table equals a model,
    and every file that holds a touched key is in the commit's
    `remove` list."""
    import os

    import pyarrow.parquet as pq

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    sk = (lambda i: None if i is None else f"k{i + 100:03d}") if string_key \
        else (lambda i: i)
    ktype = "string" if string_key else "long"
    path = str(tmp_path_factory.mktemp("lh_ranges") / "t")
    key = "k0"

    def rows_df(pairs):
        return spark.createDataFrame([(sk(k), v) for k, v in pairs],
                                     f"{key} {ktype}, v double")

    model = [(k, float(k)) for k in range(30)]
    LH.table_init(rows_df(model), path, key, n_files=n_init)
    for step in vintages:
        if step == "append":
            new = [(k, float(k)) for k in range(30, 40)]
            LH.append(spark, path, key, rows_df(new))
            model += new
        elif step == "format_append":
            new = [(k, float(k)) for k in range(40, 50)]
            rows_df(new).coalesce(1).write.format("lakehouse").mode("append").save(path)
            model += new
        elif step == "null_keys":
            new = [(None, -1.0), (None, -2.0)]
            LH.append(spark, path, key, rows_df(new))
            model += new
        elif step == "dv_delete":
            gone = {0, 7, 14, 21, 28}
            lits = ", ".join(repr(sk(k)) if string_key else str(k) for k in sorted(gone))
            LH.delete_where(spark, path, f"{key} IN ({lits})")
            model = [(k, v) for k, v in model if k not in gone]
        elif step == "rename":
            new_key = f"k{int(key[1:]) + 1}"
            LH.rename_column(spark, path, key, new_key)
            key = new_key

    before = LH.snapshot(path)
    chg_upd = spark.createDataFrame([(sk(k), float(v)) for k, v in upd.items()],
                                    f"{key} {ktype}, v double")
    chg_del = (spark.createDataFrame([(sk(k),) for k in dels], f"{key} {ktype}")
               if dels else None)
    v = LH.merge(spark, path, key, updates=chg_upd, delete_keys=chg_del)

    gone, new_v = set(dels), {k: float(x) for k, x in upd.items()}
    want = sorted(((sk(k), new_v.get(k, x)) for k, x in model if k not in gone),
                  key=repr)
    got = sorted(((r[key], r.v) for r in LH.read_version(spark, path, v).collect()),
                 key=repr)
    assert got == want

    touched = {sk(k) for k in set(upd) | gone}
    removed = set(LH._read_entry(path, v)["remove"])
    names = LH._physical_names_of(before.acts, key)
    for f in before.files:
        tbl = pq.read_table(os.path.join(path, f))
        col = next(c for c in names if c in tbl.column_names)
        if touched & set(tbl.column(col).to_pylist()):
            assert f in removed, f"{f} holds a touched key but was not rewritten"
