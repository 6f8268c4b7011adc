"""Entity-resolution family (queries/er.py + tools/make_er.py fixture)."""

import pytest


def test_phonetic_key_matches_classic_soundex_values(spark):
    """The dialect-shared phonetic key reproduces classic Soundex codes on
    the textbook examples (and smith/smyth land in one block)."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import phonetic_key_sql

    cases = {
        "smith": "s530",
        "smyth": "s530",
        "jackson": "j250",
        "robert": "r163",
        "rupert": "r163",
        "ashcraft": "a261",  # h transparent: s,c collapse across it
        "tymczak": "t522",
        "honeyman": "h555",
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    got = {
        r.w: r.k
        for r in df.select(
            "w", F.expr(phonetic_key_sql("w", duck=False)).alias("k")
        ).collect()
    }
    assert got == cases


def test_phonetic_key_spark_equals_duckdb(spark):
    """The duck=True and duck=False renderings are the SAME function: run
    both engines over every fixture name and compare."""
    import duckdb

    from pyspark.sql import functions as F

    from changegen_spark.queries.er import ER_PATH, phonetic_key_sql

    sp = {
        r.name: r.k
        for r in spark.read.parquet(ER_PATH)
        .select("name", F.expr(phonetic_key_sql("name", duck=False)).alias("k"))
        .collect()
    }
    con = duckdb.connect()
    dk = dict(
        con.execute(
            f"SELECT name, {phonetic_key_sql('name', duck=True)} FROM '{ER_PATH}'"
        ).fetchall()
    )
    con.close()
    assert sp == dk


def test_er_eval_pins_planted_recovery(spark):
    """Exact pins from the planted fixture: every blocked true pair is
    recovered (refine recall 1.0 within blocks), all recall loss is
    blocking loss, and precision stays near 1 (two natural name
    collisions in the fixture are known)."""
    from changegen_spark.queries.er import q_er_eval

    row = q_er_eval(spark, "").collect()[0]
    assert row.n_true == 80  # 60 class A + 12 class B + 8 class C
    assert row.n_tp == row.n_pred - 2  # exactly two false-positive pairs
    assert row.recall_e6 == row.block_recall_e6  # refine loses nothing
    assert row.precision_e6 >= 950_000
    # class B (12 first-letter typos) is *designed* blocking loss
    assert row.n_true - row.n_tp >= 12


def test_er_class_b_misses_are_blocking_only(spark):
    """All class-B planted dups (first-letter last-name typo, entities
    100..111) are absent from pairs — they land in a different block —
    while class-A vowel-swap / doubled-consonant dups are all found."""
    from changegen_spark.queries.er import q_er_pairs

    pairs = {(r.rec_a, r.rec_b) for r in q_er_pairs(spark, "").collect()}
    # class-B records are rec_ids 460..471 (base 400 + 60 class A)
    assert not any(460 <= r <= 471 for p in pairs for r in p)
    # class-A vowel swaps (eid % 3 == 0) and doubled consonants
    # (eid % 3 == 1) preserve the block: recs 400+eid pair with eid
    for eid in range(60):
        if eid % 3 != 2:  # transpositions may legitimately change the key
            assert (eid, 400 + eid) in pairs, eid


def test_er_clusters_group_matched_records(spark):
    """Every matched pair lands in one component labeled by min rec_id."""
    from changegen_spark.queries.er import q_er_clusters, q_er_pairs

    comp = {r.rec_id: r.entity for r in q_er_clusters(spark, "").collect()}
    for r in q_er_pairs(spark, "").collect():
        assert comp[r.rec_a] == comp[r.rec_b]
        assert comp[r.rec_a] <= r.rec_a


def test_er_pairs_plan_is_blocked_equi_join(spark):
    """Scale pin: the refine join must be a hash equi-join on the block
    key — no cartesian/BroadcastNestedLoop anywhere in the plan."""
    from changegen_spark.queries.er import q_er_pairs

    plan = q_er_pairs(spark, "")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_er_eval_guard_against_fixture_drift(spark):
    """The fixture is committed; a regenerated fixture with different
    plants must fail loudly here rather than silently shifting oracles."""
    from changegen_spark.queries.er import ER_PATH

    df = spark.read.parquet(ER_PATH)
    assert df.count() == 480
    assert df.selectExpr("max(entity_id)").collect()[0][0] == 399


def test_er_scale_records_planted_recovery(spark, tmp_path):
    """The synthesized scale records: block-preserving planted dups
    (classes A and C) are recovered under BOTH blocking schemes,
    class-B (first-letter) dups under neither, and adding city to the
    block key only removes cross-entity pairs (higher precision, same
    planted recall)."""
    from changegen_spark.queries.er import er_pairs_for
    from changegen_spark.sources.scaleup import build_er_records

    n = 2000
    path = build_er_records(spark, str(tmp_path), n_entities=n, dup_frac=0.15)
    ppl = spark.read.parquet(path)
    truth = {r.rec_id: r.entity_id for r in ppl.select("rec_id", "entity_id").collect()}

    name_only = {(r.rec_a, r.rec_b) for r in er_pairs_for(ppl).collect()}
    with_city = {
        (r.rec_a, r.rec_b) for r in er_pairs_for(ppl, ("city",)).collect()
    }
    assert with_city <= name_only

    n_dup = int(n * 0.15)
    for j in range(n_dup):
        rid = n + j
        src = truth[rid]
        pair = tuple(sorted((src, rid)))
        if j % 3 == 1:  # class B: designed blocking loss
            assert pair not in name_only, j
            assert pair not in with_city, j
        else:  # classes A and C recoverable under both schemes
            assert pair in name_only, j
            assert pair in with_city, j

    def precision(pairs):
        if not pairs:
            return 1.0
        tp = sum(1 for a, b in pairs if truth[a] == truth[b])
        return tp / len(pairs)

    assert precision(with_city) >= precision(name_only)


def test_multikey_blocking_recovers_class_b_with_measured_precision_cost(
    spark, sf_dir
):
    """The multi-key lever, measured: the second key (first-name phonetic
    + city) sees through class-B last-name first-letter typos, so recall
    reaches 1.0.  The expected precision cost did NOT materialize on this
    fixture: the two false pairs in the multi result are the SAME two the
    single key already admits (coincidental same-block lev<=2 names);
    key 2 contributed 16 true pairs and zero new false ones — multi-key
    strictly dominates here, and that is pinned rather than assumed."""
    from changegen_spark.queries.er import q_er_eval, q_er_eval_multi

    single = q_er_eval(spark, sf_dir).collect()[0]
    multi = q_er_eval_multi(spark, sf_dir).collect()[0]
    assert single.recall_e6 == 800000 and multi.recall_e6 == 1000000
    assert multi.block_recall_e6 == 1000000  # no true pair escapes BOTH keys
    assert multi.n_tp == multi.n_true == 80
    assert multi.n_pred == 82  # the single key's two false pairs, no new ones
    assert multi.n_pred - multi.n_tp == single.n_pred - single.n_tp == 2
    assert multi.precision_e6 > single.precision_e6  # tp grew, FPs did not


def test_multikey_pairs_superset_of_single_key(spark, sf_dir):
    from changegen_spark.queries.er import q_er_pairs, q_er_pairs_multi

    single = {(r.rec_a, r.rec_b) for r in q_er_pairs(spark, sf_dir).collect()}
    multi = {(r.rec_a, r.rec_b) for r in q_er_pairs_multi(spark, sf_dir).collect()}
    assert single < multi


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_sn_pairs_match_independent_scan(spark):
    """Sorted-neighborhood pairs (r8): an independent Python sort + window
    scan is the expectation — this also proves the distributed rank
    (repartitionByRange + two-phase prefix sum) equals the global order."""
    from changegen_spark.queries.er import (
        LEV_MAX,
        SN_WINDOW,
        block_key_sql,
        q_er_pairs_sn,
    )

    ppl = spark.read.parquet(
        __import__("changegen_spark.queries.er", fromlist=["ER_PATH"]).ER_PATH
    )
    keyed = ppl.selectExpr(
        "rec_id",
        "lower(name) AS nname",
        f"{block_key_sql(duck=False)} AS bk",
    ).collect()
    rows = sorted(
        (f"{r.bk}|{r.nname}|{str(r.rec_id).zfill(12)}", r.rec_id, r.nname)
        for r in keyed
    )
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, min(i + SN_WINDOW, len(rows))):
            la, lb = rows[i], rows[j]
            d = _lev(la[2], lb[2])
            if d <= LEV_MAX:
                a, b = sorted((la[1], lb[1]))
                want.add((a, b, d))
    got = {
        (r.rec_a, r.rec_b, r.lev) for r in q_er_pairs_sn(spark, "").collect()
    }
    assert got == want and want


def test_sn_candidate_budget_is_linear_and_eval_decomposes(spark):
    """The SN scheme's defining property: candidates never exceed
    n·(window-1) REGARDLESS of the key distribution (the quadratic-proof
    budget the 1M ER rung's city-block drift motivates), and the eval
    row's window ceiling decomposes recall exactly like block_recall
    does for key blocking."""
    from changegen_spark.queries.er import (
        SN_WINDOW,
        _people,
        _sn_ranked,
        q_er_eval_sn,
    )

    n = _people(spark).count()
    row = q_er_eval_sn(spark, "").collect()[0]
    assert row.n_pred <= n * (SN_WINDOW - 1)
    # recall is bounded by the window ceiling, and the refine loses
    # nothing beyond it on this fixture (typos are lev<=2 by design)
    assert row.recall_e6 <= row.window_recall_e6
    assert row.window_recall_e6 >= 600_000  # most planted dups adjacent
    # ranks are a permutation of 1..n (two-phase prefix sum is dense)
    ranks = [r.rank for r in _sn_ranked(_people(spark)).collect()]
    assert sorted(ranks) == list(range(1, n + 1))


def test_sn_multi_superset_and_second_pass_contributes(spark):
    """Multi-pass SN: the union is a superset of the single pass, stays
    within the 2·n·(w−1) candidate budget, and the city-first pass
    contributes pairs the name-first order cannot see."""
    from changegen_spark.queries.er import (
        SN_WINDOW,
        _people,
        q_er_pairs_sn,
        q_er_pairs_sn_multi,
    )

    one = {(r.rec_a, r.rec_b) for r in q_er_pairs_sn(spark, "").collect()}
    multi = {
        (r.rec_a, r.rec_b) for r in q_er_pairs_sn_multi(spark, "").collect()
    }
    assert one <= multi
    assert len(multi) > len(one)  # the second sort order finds new pairs
    n = _people(spark).count()
    assert len(multi) <= 2 * n * (SN_WINDOW - 1)


@pytest.mark.slow
def test_sn_multi_eval_ceiling_dominates_single_pass(spark):
    """The union window ceiling must dominate the single pass's, and
    multi-pass recall must be at least single-pass recall (supersets)."""
    from changegen_spark.queries.er import q_er_eval_sn, q_er_eval_sn_multi

    one = q_er_eval_sn(spark, "").collect()[0]
    multi = q_er_eval_sn_multi(spark, "").collect()[0]
    assert multi.window_recall_e6 >= one.window_recall_e6
    assert multi.recall_e6 >= one.recall_e6
    assert multi.n_pred >= one.n_pred
    assert multi.recall_e6 <= multi.window_recall_e6


@pytest.mark.slow
def test_sn_refined_precision_up_recall_flat(spark):
    """r8 verdict #2 (gate-scale half): composing city refine with the
    multi-pass union must RAISE precision without touching recall or the
    window ceiling on the fixture (duplicates share city by
    construction — measured 0.973 → 1.000 at identical 0.8875 recall).
    Refined pairs are a subset of the unrefined union (refine only
    drops candidates)."""
    from changegen_spark.queries.er import (
        q_er_eval_sn_multi,
        q_er_eval_sn_refined,
        q_er_pairs_sn_multi,
        q_er_pairs_sn_refined,
    )

    multi = {
        (r.rec_a, r.rec_b) for r in q_er_pairs_sn_multi(spark, "").collect()
    }
    refined = {
        (r.rec_a, r.rec_b)
        for r in q_er_pairs_sn_refined(spark, "").collect()
    }
    assert refined <= multi
    em = q_er_eval_sn_multi(spark, "").collect()[0]
    er = q_er_eval_sn_refined(spark, "").collect()[0]
    assert er.precision_e6 > em.precision_e6
    assert er.recall_e6 == em.recall_e6  # duplicates share city
    assert er.window_recall_e6 == em.window_recall_e6  # ceiling untouched
    assert er.precision_e6 == 1_000_000  # fixture: refine kills every FP


def test_sn_suffix_key_invariant_under_class1_and_class0_edits(spark):
    """The third-pass key core must be invariant under exactly the edits
    that break the primary block key: substituting the last name's
    FIRST letter (the generator's class-1 corruption) and swapping an
    interior vowel (class-0, which the phonetic already absorbs)."""
    from changegen_spark.queries.er import suffix_key_sql

    df = spark.createDataFrame(
        [
            ("john smith",),
            ("john xmith",),  # class-1: first letter of last name
            ("john smeth",),  # class-0: interior vowel swap
            ("john smirth",),  # control: different suffix consonants
        ],
        "name string",
    )
    keys = [
        r.k
        for r in df.select(
            spark_expr(suffix_key_sql(duck=False)).alias("k")
        ).collect()
    ]
    assert keys[0] == keys[1] == keys[2]
    assert keys[3] != keys[0]


def spark_expr(sql):
    from pyspark.sql import functions as F

    return F.expr(sql)


def test_sn_suffix_pass_reaches_block_broken_pair(spark):
    """The taxonomy's dominant missed class (tools/er_taxonomy.py at 1M:
    53,622 of 70,451 misses): a first-letter-substituted duplicate lands
    far from its base in BOTH existing sort orders (each is prefixed by
    the phonetic block key, whose lead character is that letter), but
    adjacent in the suffix order.  Planted here: 4 same-city strangers
    whose block keys sort strictly between s* and x*, so the pair is >
    window-1 apart in both existing orders and the 2-pass union misses
    it; the 3-pass union must find it."""
    from changegen_spark.queries.er import (
        er_pairs_sn_multi,
        er_pairs_sn_suffix,
    )

    ppl = spark.createDataFrame(
        [
            (1, "john smith", "city1", 1),
            (2, "john xmith", "city1", 1),  # class-1 dup of rec 1
            (3, "tom taylor", "city1", 3),
            (4, "uma turner", "city1", 4),
            (5, "vic walker", "city1", 5),
            (6, "wes watson", "city1", 6),
        ],
        "rec_id long, name string, city string, entity_id long",
    )
    two = {
        (r.rec_a, r.rec_b)
        for r in er_pairs_sn_multi(ppl, refine_cols=("city",)).collect()
    }
    three = {
        (r.rec_a, r.rec_b)
        for r in er_pairs_sn_suffix(ppl, refine_cols=("city",)).collect()
    }
    assert (1, 2) not in two, "fillers failed to separate the planted pair"
    assert (1, 2) in three
    assert two <= three


@pytest.mark.slow
def test_sn_suffix_superset_budget_and_eval_dominates(spark):
    """Three-pass refined SN on the gate fixture: superset of the 2-pass
    refined pairs, candidates within 3·n·(w−1), and the eval's union
    ceiling / recall dominate the 2-pass refined eval while precision
    stays perfect (refine still kills every false positive here)."""
    from changegen_spark.queries.er import (
        SN_WINDOW,
        _people,
        q_er_eval_sn_refined,
        q_er_eval_sn_suffix,
        q_er_pairs_sn_refined,
        q_er_pairs_sn_suffix,
    )

    refined = {
        (r.rec_a, r.rec_b)
        for r in q_er_pairs_sn_refined(spark, "").collect()
    }
    suffix = {
        (r.rec_a, r.rec_b)
        for r in q_er_pairs_sn_suffix(spark, "").collect()
    }
    assert refined <= suffix
    n = _people(spark).count()
    assert len(suffix) <= 3 * n * (SN_WINDOW - 1)
    e2 = q_er_eval_sn_refined(spark, "").collect()[0]
    e3 = q_er_eval_sn_suffix(spark, "").collect()[0]
    assert e3.window_recall_e6 >= e2.window_recall_e6
    assert e3.recall_e6 >= e2.recall_e6
    assert e3.recall_e6 <= e3.window_recall_e6
    assert e3.precision_e6 == 1_000_000


@pytest.mark.slow
def test_er_golden_survivorship_invariants(spark):
    """Golden-record stage: full-table coverage (member counts sum to the
    source row count — singletons map to themselves), variant counts
    bounded by members, and the matched pairs' records all land in
    multi-member entities."""
    from changegen_spark.queries.er import (
        _people,
        q_er_golden,
        q_er_pairs_sn_suffix,
    )

    golden = q_er_golden(spark, "").collect()
    n_src = _people(spark).count()
    assert sum(r.n_members for r in golden) == n_src
    assert all(1 <= r.n_name_variants <= r.n_members for r in golden)
    singletons = [r for r in golden if r.n_members == 1]
    assert all(r.n_name_variants == 1 for r in singletons)
    multi_entities = {r.entity for r in golden if r.n_members >= 2}
    paired = set()
    for r in q_er_pairs_sn_suffix(spark, "").collect():
        paired.add(r.rec_a)
        paired.add(r.rec_b)
    # every matched record's component head is a multi-member entity
    golden_ids = {r.entity for r in golden}
    assert multi_entities <= golden_ids
    assert len(multi_entities) > 0 and len(paired) >= 2 * len(multi_entities) - len(paired)


@pytest.mark.slow
def test_er_bcubed_matches_independent_python_recomputation(spark):
    """B³ must equal a from-scratch per-record computation (floor-e6
    semantics) over the SAME cluster mapping the query uses — catches
    any cell/size join mistake, not just range errors."""
    from collections import Counter

    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import (
        SN_REFINE_COLS,
        _people,
        er_pairs_sn_suffix,
        q_er_bcubed,
    )

    ppl = _people(spark)
    comp = connected_components(
        er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS),
        src="rec_a",
        dst="rec_b",
    ).select(F.col("node").alias("rec_id"), F.col("comp").alias("p"))
    rows = (
        ppl.select("rec_id", "entity_id")
        .join(comp, "rec_id", "left")
        .select(
            "rec_id", "entity_id", F.coalesce("p", F.col("rec_id")).alias("pred")
        )
        .collect()
    )
    psize = Counter(r.pred for r in rows)
    tsize = Counter(r.entity_id for r in rows)
    cell = Counter((r.pred, r.entity_id) for r in rows)
    sp = sum(
        (cell[(pr, t)] ** 2) * 10**12 // psize[pr] for (pr, t) in cell
    )
    sr = sum(
        (cell[(pr, t)] ** 2) * 10**12 // tsize[t] for (pr, t) in cell
    )
    n = len(rows)
    want_p = sp // (n * 10**6)
    want_r = sr // (n * 10**6)
    got = q_er_bcubed(spark, "").collect()[0]
    assert got.n_records == n
    assert got.b3_precision_e6 == want_p
    assert got.b3_recall_e6 == want_r
    # production point on the fixture: high on both axes, F1 between them
    assert got.b3_precision_e6 >= 900_000
    assert got.b3_recall_e6 >= 700_000
    lo, hi = sorted((got.b3_precision_e6, got.b3_recall_e6))
    assert lo <= got.b3_f1_e6 <= hi


def test_er_incremental_assignment_pins_planted_truth(spark):
    """Incremental ER against the base entity table: 76/80 arrivals match
    their planted entity, ZERO wrong assignments, and — the suffix key's
    contribution — all 12 class-B (first-letter) arrivals are recovered
    even though their phonetic block key is broken.  The 4 unmatched
    arrivals are last-name transpositions that corrupt BOTH candidate
    keys' phonetics (key-unreachable by construction, surfaced as
    matched_entity −1 → new-entity inserts, never silent wrong merges)."""
    from changegen_spark.queries.er import _people, q_er_incremental

    truth = {
        r.rec_id: r.entity_id
        for r in _people(spark).select("rec_id", "entity_id").collect()
    }
    rows = q_er_incremental(spark, "").collect()
    assert len(rows) == 80
    wrong = [
        r
        for r in rows
        if r.matched_entity != -1 and r.matched_entity != truth[r.rec_id]
    ]
    assert wrong == []
    assert sum(1 for r in rows if r.matched_entity == truth[r.rec_id]) == 76
    assert sorted(r.rec_id for r in rows if r.matched_entity == -1) == [
        408,
        414,
        417,
        429,
    ]
    classb = [r for r in rows if 460 <= r.rec_id <= 471]
    assert all(r.matched_entity == truth[r.rec_id] for r in classb)
    # matched rows carry the refine evidence; unmatched rows the sentinel
    assert all(
        (r.lev >= 0 and r.n_matches >= 1)
        if r.matched_entity != -1
        else (r.lev == -1 and r.n_matches == 0)
        for r in rows
    )


def test_er_inc_audit_consistent_with_assignment(spark):
    """The candidate audit's refine survivors must account for the
    assignment's matches: Σ per-class refined ≥ distinct refined pairs
    ≥ matched arrivals (a pair can arrive via both key classes; an
    arrival can match several base records).  Candidate volume per
    class equals Σ a_k·b_k and bounds its refined count."""
    from changegen_spark.queries.er import q_er_inc_audit, q_er_incremental

    audit = {r.key_class: r for r in q_er_inc_audit(spark, "").collect()}
    assert set(audit) == {"k1", "k2"}
    for r in audit.values():
        assert 0 <= r.refined <= r.candidates
        assert r.max_key_pairs <= r.candidates
        assert r.n_shared_keys >= 1
    inc = q_er_incremental(spark, "").collect()
    n_matched = sum(1 for r in inc if r.matched_entity != -1)
    total_matches = sum(r.n_matches for r in inc)
    refined_sum = sum(r.refined for r in audit.values())
    assert refined_sum >= total_matches >= n_matched
    # the suffix class must carry the block-broken arrivals: k2 refines
    # pairs that k1's broken key can never produce
    assert audit["k2"].refined > 0


def test_suffix_key_property_invariant_first_letter_substitution():
    """Property (DuckDB-evaluated, no Spark needed): for ANY word-pair
    name, substituting the last name's first letter never changes the
    suffix key — the invariance the third pass is built on."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from changegen_spark.queries.er import suffix_key_sql

    con = duckdb.connect()

    @settings(max_examples=60, deadline=None)
    @given(
        first=st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8),
        last=st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=10),
        sub=st.sampled_from("abcdefghijklmnopqrstuvwxyz"),
    )
    def check(first, last, sub):
        name_a = f"{first} {last}"
        name_b = f"{first} {sub}{last[1:]}"
        k = suffix_key_sql(duck=True)
        rows = con.execute(
            f"SELECT {k} FROM (VALUES (?), (?)) t(name)", [name_a, name_b]
        ).fetchall()
        assert rows[0][0] == rows[1][0], (name_a, name_b, rows)

    check()
    con.close()


def test_new_er_family_plans_are_hash_joins_only(spark):
    """Scale pins for the r10 additions: golden records, B³, incremental
    assignment, and the audit must plan as hash/broadcast equi-joins —
    no CartesianProduct, no BroadcastNestedLoopJoin, and (except the
    presentation orderBy) no data-sized single-partition window."""
    from changegen_spark.queries.er import (
        q_er_golden,
        q_er_inc_audit,
        q_er_incremental,
        q_er_incremental_margin,
    )

    for fn in (
        q_er_golden,
        q_er_incremental,
        q_er_incremental_margin,
        q_er_inc_audit,
    ):
        plan = fn(spark, "")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


@pytest.mark.slow
def test_golden_full_rules_diverge_and_recompute(spark):
    """Full-attribute survivorship (r10 verdict #6): the three per-column
    rules must be genuinely different rules — on this fixture the
    longest-name rule disagrees with the mode for the entities whose
    duplicate carries a doubled-letter corruption (longer than the
    clean majority spelling) — and city_latest must equal an
    independent max-rec_id recomputation per entity."""
    from collections import defaultdict

    from changegen_spark.queries.er import (
        _people,
        q_er_golden,
        q_er_golden_full,
    )

    full = {r.entity: r for r in q_er_golden_full(spark, "").collect()}
    plain = {r.entity: r for r in q_er_golden(spark, "").collect()}
    assert set(full) == set(plain)
    # rule identity where rules agree by construction
    assert all(full[e].name_mode == plain[e].name for e in full)
    assert all(full[e].n_members == plain[e].n_members for e in full)
    # the longest rule must actually fire somewhere
    diverged = [e for e in full if full[e].name_longest != full[e].name_mode]
    assert len(diverged) > 0
    for e in diverged:
        assert len(full[e].name_longest) >= len(full[e].name_mode)
    # independent recency recomputation: rebuild the cluster mapping
    # from scratch (same pairs -> CC -> singleton convention) and check
    # city_latest is the max-rec_id member's city for EVERY entity
    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import (
        SN_REFINE_COLS,
        er_pairs_sn_suffix,
    )

    ppl = _people(spark)
    comp = connected_components(
        er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS),
        src="rec_a",
        dst="rec_b",
    ).select(F.col("node").alias("rec_id"), F.col("comp").alias("ent"))
    members = defaultdict(list)
    for r in ppl.join(comp, "rec_id", "left").collect():
        e = r.ent if r.ent is not None else r.rec_id
        members[e].append((r.rec_id, r.city or ""))
    assert set(members) == set(full)
    for e, ms in members.items():
        assert full[e].city_latest == max(ms)[1], e
        assert full[e].n_members == len(ms), e


@pytest.mark.slow
def test_bcubed_integer_arithmetic_survives_giant_clusters(spark):
    """r10-advice regression pin: the naive n_ct²·1e12 ordering wraps
    int64 once a cluster exceeds ~3,035 records (3035²·1e12 > 2⁶³);
    the reassociated n_ct·((n_ct·1e12) div n_c) must stay exact.  One
    5,000-record entity predicted as one 5,000-record cluster has B³
    precision = recall = F1 = 1 exactly — under the wrapped arithmetic
    the sums go negative and the metrics collapse."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import bcubed_from_pairs

    n = 5000
    people = spark.range(n).select(
        F.col("id").alias("rec_id"), F.lit(1).cast("long").alias("entity_id")
    )
    # chain 0-1, 1-2, ... so CC folds everything into one cluster
    pairs = spark.range(n - 1).select(
        F.col("id").alias("rec_a"), (F.col("id") + 1).alias("rec_b")
    )
    n_rec, n_pred, n_true, p_e6, r_e6, f1_e6 = bcubed_from_pairs(
        people, pairs
    )
    assert (n_rec, n_pred, n_true) == (n, 1, 1)
    assert (p_e6, r_e6, f1_e6) == (1_000_000, 1_000_000, 1_000_000)


def test_golden_inc_delta_matches_assignment_membership(spark):
    """The incremental golden delta must be exactly the survivorship
    recomputation over the membership its own margin assignment
    implies: every matched arrival folds into its base entity's row
    (status updated, n_members = 1 + arrivals), every unmatched or
    ambiguous arrival becomes a fresh singleton (status new), and the
    per-column rules replay an independent Python fold."""
    from collections import defaultdict

    from changegen_spark.queries.er import (
        _people,
        q_er_golden_inc,
        q_er_incremental_margin,
    )

    ppl = {r.rec_id: r for r in _people(spark).collect()}
    assign = {
        r.rec_id: r.matched_entity
        for r in q_er_incremental_margin(spark, "").collect()
    }
    members = defaultdict(list)  # entity -> [(rec_id, nname, city)]
    for rid, me in assign.items():
        ent = me if me >= 0 else rid
        members[ent].append(
            (rid, (ppl[rid].name or "").lower(), ppl[rid].city or "")
        )
    for ent in list(members):
        if ent in ppl and any(rid != ent for rid, _n, _c in members[ent]):
            members[ent].append(
                (ent, (ppl[ent].name or "").lower(), ppl[ent].city or "")
            )
    got = {r.entity: r for r in q_er_golden_inc(spark, "").collect()}
    assert set(got) == set(members)
    for ent, ms in members.items():
        g = got[ent]
        assert g.n_members == len(ms), ent
        assert g.status == ("updated" if len(ms) > 1 else "new"), ent
        names = sorted(n for _r, n, _c in ms)
        # mode with lexicographic tiebreak
        from collections import Counter

        cnt = Counter(names)
        assert g.name_mode == min(cnt, key=lambda v: (-cnt[v], v)), ent
        assert g.name_longest == min(
            set(names), key=lambda v: (-len(v), v)
        ), ent
        assert g.city_latest == max(ms)[2], ent


def test_incremental_margin_abstains_on_ties_only(spark):
    """Margin-based abstention (r10 verdict #1) on a synthetic frame
    where the fixture can't reach the ambiguous path (no same-city
    collisions at 400 base entities): an arrival with TWO base
    candidates at the same edit distance must route to −2 where the
    plain variant blindly merges with the min-id candidate; a clear
    winner one edit closer than its runner-up must still merge (margin
    1 only abstains on exact ties); no-candidate arrivals stay −1."""
    from changegen_spark.queries.er import (
        incremental_assign,
        incremental_assign_margin,
    )

    base = spark.createDataFrame(
        [
            (1, "ann smith", "springfield"),
            (2, "ana smith", "springfield"),
            (10, "robert jones", "portland"),
            (11, "roberta jones", "portland"),
        ],
        "rec_id long, name string, city string",
    )
    arrivals = spark.createDataFrame(
        [
            (100, "anna smith", "springfield"),  # lev 1 to BOTH 1 and 2
            (101, "robert jones", "portland"),  # lev 0 vs 10, lev 1 vs 11
            (102, "zz unmatchable", "nowhere"),  # no candidates
        ],
        "rec_id long, name string, city string",
    )
    plain = {
        r.rec_id: r for r in incremental_assign(arrivals, base).collect()
    }
    margin = {
        r.rec_id: r
        for r in incremental_assign_margin(arrivals, base).collect()
    }
    # blind pick merges the tie with the smallest base id
    assert plain[100].matched_entity == 1 and plain[100].lev == 1
    # margin variant abstains: gap 0 < margin 1
    assert margin[100].matched_entity == -2
    assert margin[100].margin == 0 and margin[100].n_matches == 2
    # clear winner: gap 1 >= margin 1, merges on both variants
    assert plain[101].matched_entity == 10
    assert margin[101].matched_entity == 10
    assert margin[101].lev == 0 and margin[101].margin == 1
    # no candidates: -1 with no measurable gap on both variants
    assert plain[102].matched_entity == -1
    assert margin[102].matched_entity == -1 and margin[102].margin == -1
    # abstention can only ever REMOVE merges, never add or change one
    for rid, m in margin.items():
        if m.matched_entity not in (-1, -2):
            assert m.matched_entity == plain[rid].matched_entity


def test_er_chain_audit_matches_independent_recomputation(spark):
    """The transitivity audit must agree with a from-scratch Python
    recomputation over the same cluster mapping, and its chain_pairs
    must be consistent with B³: chain pairs exist on this fixture
    (independent variants of one base name can be 3-4 edits apart),
    every one sits inside a cluster whose edges each passed lev ≤ 2."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import (
        LEV_MAX,
        SN_REFINE_COLS,
        _people,
        er_pairs_sn_suffix,
        q_er_chain_audit,
    )

    ppl = _people(spark)
    comp = connected_components(
        er_pairs_sn_suffix(ppl, refine_cols=SN_REFINE_COLS),
        src="rec_a",
        dst="rec_b",
    ).select(F.col("node").alias("rec_id"), F.col("comp").alias("entity"))
    rows = ppl.join(comp, "rec_id").select(
        "entity", F.lower("name").alias("nname")
    ).collect()
    clusters = defaultdict(list)
    for r in rows:
        clusters[r.entity].append(r.nname)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    pairs_checked = chain = max_lev = 0
    for names in clusters.values():
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                d = lev(names[i], names[j])
                pairs_checked += 1
                max_lev = max(max_lev, d)
                chain += d > LEV_MAX
    got = q_er_chain_audit(spark, "").collect()[0]
    assert got.n_multi_entities == len(clusters)
    assert got.max_cluster_size == max(len(v) for v in clusters.values())
    assert got.pairs_checked == pairs_checked
    assert got.chain_pairs == chain
    assert got.max_intra_lev == max_lev
    # gate fixture: every cluster is a {base, dup} pair, so no chains
    # CAN exist here (the audit proves it rather than assumes it); the
    # hazard appears at scale — the 1M taxonomy's 2,183
    # cluster-recovered lev>2 pairs are exactly chain merges
    assert got.max_cluster_size == 2 and got.chain_pairs == 0


@pytest.mark.slow
def test_er_chain_merge_hazard_on_planted_chain(spark):
    """The hazard the audit watches, demonstrated: a—b—c where each edge
    passes lev ≤ 2 but lev(a, c) = 4 — CC merges all three, and the
    intra-cluster distance distribution reveals the chain."""
    from pyspark.sql import functions as F

    from changegen_spark.functions.clustering import connected_components
    from changegen_spark.queries.er import LEV_MAX, er_pairs_sn_suffix

    ppl = spark.createDataFrame(
        [
            (1, "anna weber", "c1", 1),
            (2, "anne webber", "c1", 1),  # lev 2 to rec 1
            (3, "agne webbers", "c1", 1),  # lev 2 to rec 2, lev 4 to rec 1
        ],
        "rec_id long, name string, city string, entity_id long",
    )
    pairs = er_pairs_sn_suffix(ppl, refine_cols=("city",))
    got = {(r.rec_a, r.rec_b): r.lev for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got
    assert (1, 3) not in got  # the direct edge fails the refine
    comp = connected_components(pairs, src="rec_a", dst="rec_b")
    assert comp.select("comp").distinct().count() == 1  # one merged cluster
    names = {r.rec_id: r.name for r in ppl.collect()}
    assert (
        spark.createDataFrame(
            [(names[1], names[3])], "a string, b string"
        )
        .select(F.levenshtein("a", "b").alias("lev"))
        .collect()[0]
        .lev
        > LEV_MAX
    )


def test_ambiguous_resolve_pins_planted_terminal_states(spark):
    """The abstain → re-resolve drain loop over the planted-tie fixture
    under the r13 DEFAULT policy ('toward'): a parked tie resolves only
    when the WINNER's survivor name moved strictly closer than the
    parked lev (group T) — the loser-drift tie-breaks of groups R and B
    (winner lev unchanged, rival merely drifted away) are rejected as
    uninformative and stay parked (at the 1M bench rung the r12 'gap'
    rule resolved such drift ties ~50% wrong); the untouched tie stays
    parked; the drift group's candidates leave refine reach entirely
    (new entity)."""
    from changegen_spark.queries.er import q_er_ambiguous_resolve

    got = {
        r.rec_id: r for r in q_er_ambiguous_resolve(spark, "").collect()
    }
    assert set(got) == {401, 402, 405, 407, 413}, (
        "the pool is exactly the ties"
    )
    # group R: 400's merge flipped entity 100's survivor AWAY from 401,
    # leaving 101 uniquely best — but 101's lev equals the parked lev
    # (pure loser drift), so the toward policy keeps 401 parked
    assert (got[401].matched_entity, got[401].status) == (
        -2,
        "still_ambiguous",
    )
    assert got[401].lev == 1 and got[401].margin == 1
    # group S: nothing touched belmore — the tie persists
    assert (got[402].matched_entity, got[402].status) == (
        -2,
        "still_ambiguous",
    )
    assert got[402].margin == 0 and got[402].n_matches == 2
    # group N: both survivors drifted out of lev reach — re-probe dry
    assert (got[405].matched_entity, got[405].status) == (-1, "new")
    assert got[405].n_matches == 0 and got[405].lev == -1
    # group B: 107 is uniquely best with THREE candidates in the mix,
    # but again by loser drift only (107's lev == the parked lev) —
    # parked under the default policy
    assert (got[407].matched_entity, got[407].status) == (
        -2,
        "still_ambiguous",
    )
    assert got[407].n_matches == 3 and got[407].margin == 1
    # group T: entity 130 absorbed 412, moving its survivor name
    # strictly TOWARD 413 (re-probe lev 1 < parked lev 2) — the one
    # evidence-backed tie-break, resolved
    assert (got[413].matched_entity, got[413].status) == (130, "resolved")
    assert got[413].lev == 1 and got[413].margin == 1
    assert got[413].n_matches == 2


def test_drain_policy_table_contrasts_acceptance_rules(spark):
    """q_er_drain_policy pins the policy contrast the default was
    chosen from: the r12 'gap' rule accepts the loser-drift tie-breaks
    (401→101, 407→107) alongside the evidence-backed 413→130; every
    'toward' variant rejects the drift pair; gap2 parks ALL ties on
    this fixture (with LEV_MAX=2 a surviving runner-up can never be 2
    edits behind a winner, so gap≥2 only passes sole-candidate
    re-probes — the measured reason gap2 is NOT the mitigation: at the
    1M rung the 21 drift resolutions all had no close runner-up and
    gap2 shipped the same 11 wrong merges as gap)."""
    from changegen_spark.queries.er import q_er_drain_policy

    rows = q_er_drain_policy(spark, "").collect()
    got = {
        (r.policy, r.rec_id): (r.matched_entity, r.status) for r in rows
    }
    assert len(rows) == 20, "4 policies x 5 parked arrivals"
    # the r12 rule: drift ties resolve (the measured ~50%-wrong class)
    assert got[("gap", 401)] == (101, "resolved")
    assert got[("gap", 407)] == (107, "resolved")
    assert got[("gap", 413)] == (130, "resolved")
    # toward: only the evidence-backed group T resolves
    assert got[("toward", 401)] == (-2, "still_ambiguous")
    assert got[("toward", 407)] == (-2, "still_ambiguous")
    assert got[("toward", 413)] == (130, "resolved")
    # gap2 / toward_gap2: every tie parked (no gap-2 runner-up exists
    # within the refine threshold)
    for pol in ("gap2", "toward_gap2"):
        for rid in (401, 407, 413):
            assert got[(pol, rid)] == (-2, "still_ambiguous"), (pol, rid)
    # invariants across ALL policies: the dry re-probe is 'new', the
    # untouched tie stays parked
    for pol in ("gap", "gap2", "toward", "toward_gap2"):
        assert got[(pol, 405)] == (-1, "new")
        assert got[(pol, 402)] == (-2, "still_ambiguous")


def test_ambiguous_resolve_golden_includes_batch_entities(spark):
    """updated_golden_names must reflect the batch: flipped survivor
    names for merged entities, untouched names elsewhere, and one NEW
    entity per −1 arrival (keyed by its own rec_id) — the re-probe's
    target set."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import (
        _ambig_people,
        updated_golden_names,
    )

    ppl = _ambig_people(spark)
    golden = {
        r.entity: r
        for r in updated_golden_names(
            ppl.filter(F.col("rec_id") >= 400),
            ppl.filter(F.col("rec_id") < 400),
        ).collect()
    }
    # survivor flips (mode tie -> lexicographic min = the arrival name)
    assert golden[100].name == "dana maier"
    assert golden[104].name == "paul barand"
    assert golden[105].name == "paul barandt"
    assert golden[106].name == "gina mmoore"
    assert golden[130].name == "lena hofmaan", "group T toward flip"
    # untouched base entities keep their own names
    assert golden[101].name == "dana meyer"
    assert golden[102].name == "rene kraus"
    assert golden[131].name == "lena hoffmann"
    # -1 arrivals became singleton entities keyed by their rec_id
    assert golden[408].name == "gina maura"
    assert golden[410].name == "tove lindqvist"
    # parked (-2) arrivals are NOT golden entities
    for parked in (401, 402, 405, 407, 413):
        assert parked not in golden


@pytest.mark.slow
def test_golden_retract_bridge_split_and_statuses(spark):
    """Retracting the planted BRIDGE record must SPLIT its cluster (the
    q_er_chain_audit hazard made load-bearing): {300,301,302} was one
    entity because 301 bridged two sub-threshold ends; without it, 300
    and 302 are strangers.  The fixed delete batch also exercises the
    other statuses: head retraction re-heads {102,103,402} under 103,
    leaf retraction leaves entity 104 'updated', singleton retraction
    tombstones 115."""
    from changegen_spark.queries.er import q_er_golden_retract

    got = {r.entity: r for r in q_er_golden_retract(spark, "").collect()}
    # the split: two surviving singleton entities from one old cluster
    assert (got[300].status, got[300].n_members) == ("updated", 1)
    assert (got[302].status, got[302].n_members) == ("split", 1)
    assert got[300].name_mode == "mara weber"
    assert got[302].name_mode == "marrah webbber"
    # head retraction: old id tombstoned, cluster survives under 103
    assert got[102].status == "deleted" and got[102].n_members == 0
    assert (got[103].status, got[103].n_members) == ("split", 2)
    # leaf retraction: same id, one fewer member
    assert (got[104].status, got[104].n_members) == ("updated", 4)
    # singleton retraction: plain tombstone
    assert got[115].status == "deleted"
    assert set(got) == {102, 103, 104, 115, 300, 302}


@pytest.mark.slow
def test_golden_retract_is_local_to_touched_entities(spark):
    """Entities untouched by the delete batch must not appear in the
    delta at all, and a no-op delete batch produces an empty delta."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import _ambig_people, golden_retract

    ppl = _ambig_people(spark)
    # deleting 410 touches only its own 2-member cluster ({410, 411} —
    # the planted intra-batch duplicate pair): the cluster re-heads
    # under 411, and no other entity appears in the delta
    one = golden_retract(
        ppl, spark.createDataFrame([(410,)], "rec_id long")
    ).collect()
    assert [(r.entity, r.status) for r in one] == [
        (410, "deleted"),
        (411, "split"),
    ]


@pytest.mark.slow
def test_adversarial_regime_defeats_margin1_not_margin2(spark, tmp_path):
    """The strictly-closer-impostor corruption regime (r11 verdict #2):
    build_er_records' wrong merges are all exact ties (margin 1 removes
    every one), so the taxonomy column wrong_stranger_strictly_closer
    had never been non-zero.  build_er_adversarial plants twin entities
    one vowel-edit apart and arrivals one edit from the IMPOSTOR twin,
    two from the truth — margin 1 must merge them wrongly (gap 1), the
    survivor taxonomy must classify them as stranger-strictly-closer,
    and margin 2 (the measured mitigation) must park them instead."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import (
        _inc_refined,
        incremental_assign_margin,
    )
    from changegen_spark.sources.scaleup import build_er_adversarial

    n_ent, n_adv = 2_000, 50
    path = build_er_adversarial(
        spark, str(tmp_path), n_entities=n_ent, n_adv=n_adv
    )
    ppl = spark.read.parquet(path)
    base = ppl.filter(F.col("rec_id") < n_ent)
    arrivals = ppl.filter(F.col("rec_id") >= n_ent)
    n_dup = int(n_ent * 0.15)
    adv = arrivals.filter(F.col("rec_id") >= n_ent + n_dup)
    assert adv.count() == n_adv

    for mg in (1, 2):
        jm = (
            incremental_assign_margin(arrivals, base, margin=mg)
            .join(arrivals.select("rec_id", "entity_id"), "rec_id")
            .filter(F.col("rec_id") >= n_ent + n_dup)
        )
        rows = {r.rec_id: r for r in jm.collect()}
        wrong = [
            r
            for r in rows.values()
            if r.matched_entity >= 0 and r.matched_entity != r.entity_id
        ]
        ambiguous = [r for r in rows.values() if r.matched_entity == -2]
        if mg == 1:
            # the regime works: the vast majority merge into the twin
            # (a few arrivals can tie with a hash-coincident third name)
            assert len(wrong) > n_adv * 0.8, (len(wrong), n_adv)
            for r in wrong:
                assert r.matched_entity == r.entity_id + 1, "the impostor"
                assert r.lev == 1 and r.margin == 1
            # taxonomy: the TRUE entity was a candidate, strictly behind
            truecand = _inc_refined(arrivals, base).select(
                F.col("a_id").alias("rec_id"),
                F.col("b_id").alias("entity_id"),
                F.col("lev").alias("true_lev"),
            )
            surv = spark.createDataFrame(
                [(r.rec_id, r.entity_id, r.lev) for r in wrong],
                "rec_id long, entity_id long, lev long",
            ).join(truecand, ["rec_id", "entity_id"])
            closer = surv.filter("true_lev > lev").count()
            assert closer == len(wrong), "all survivors: stranger closer"
        else:
            # margin 2 is the mitigation: the impostor merges become
            # abstentions (gap 1 < 2), not wrong merges
            assert len(wrong) == 0
            assert len(ambiguous) >= n_adv * 0.8


@pytest.mark.slow
def test_r12_er_plans_are_hash_joins_only(spark):
    """Scale pins for the r12 additions: the pool re-probe and the
    retraction delta must plan as hash/broadcast equi-joins — no
    CartesianProduct, no BroadcastNestedLoopJoin (the re-probe is the
    same keyed join shape as the first pass; retraction's subgraph CC
    runs over keyed joins only)."""
    from changegen_spark.queries.er import (
        q_er_ambiguous_resolve,
        q_er_golden_retract,
    )

    for fn in (q_er_ambiguous_resolve, q_er_golden_retract):
        plan = fn(spark, "")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_new_entity_merge_consolidates_intra_batch_duplicates(spark):
    """The −1-pool consolidation (r12, beyond the verdict list): two
    arrivals of the same genuinely-new person in one batch (410/411,
    1-edit variants with no base match) must become ONE new entity —
    a naive per-arrival insert would mint two, a wrong-split no later
    batch can heal (both rows would then be base records incremental
    assignment never re-compares).  The unrelated −1 arrival stays a
    singleton."""
    from changegen_spark.queries.er import q_er_new_entity_merge

    got = {
        r.rec_id: (r.new_entity, r.n_members)
        for r in q_er_new_entity_merge(spark, "").collect()
    }
    assert got == {408: (408, 1), 410: (410, 2), 411: (410, 2)}


def test_retract_iterated_local_recompute_equals_global_property():
    """Property (pure Python, no Spark): the retraction algorithm's
    compositional claim — applying delete batches one at a time with
    the TOUCHED-ENTITIES-ONLY recompute (streaming/er.rehome_touched's logic:
    remaining members of touched entities, edges restricted to them,
    re-CC, min-id heads; untouched entities pass through) converges to
    exactly the global CC over the surviving nodes, for ANY graph and
    ANY batch split.  This is the invariant the Spark twins rely on;
    the fixture tests pin single instances, this pins the algebra."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def global_cc(nodes, edges):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a in parent and b in parent:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    def retract_step(membership, dels, edges):
        touched = {e for n, e in membership.items() if n in dels}
        remaining = {
            n for n, e in membership.items()
            if e in touched and n not in dels
        }
        sub_edges = [
            (a, b) for a, b in edges if a in remaining and b in remaining
        ]
        rehomed = global_cc(remaining, sub_edges)
        out = {
            n: e for n, e in membership.items()
            if e not in touched
        }
        out.update(rehomed)
        return out

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=12),
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=11),
                st.integers(min_value=0, max_value=11),
            ),
            max_size=20,
        ),
        dels=st.lists(
            st.integers(min_value=0, max_value=11), max_size=8
        ),
        n_batches=st.integers(min_value=1, max_value=3),
    )
    def check(n, edges, dels, n_batches):
        nodes = set(range(n))
        edges = [(a, b) for a, b in edges if a in nodes and b in nodes and a != b]
        dels = [d for d in dels if d in nodes]
        membership = global_cc(nodes, edges)
        batches = [
            dels[i::n_batches] for i in range(n_batches)
        ]
        for batch in batches:
            membership = retract_step(membership, set(batch), edges)
        survivors = nodes - set(dels)
        assert membership == global_cc(survivors, edges)

    check()


def test_er_ambig_fixture_drift_guard(spark):
    """The er_ambig fixture is committed and its planted relations are
    build-time-asserted by tools/make_er_ambig.py — but only when the
    generator RUNS.  This pins the shipped parquet's shape so a
    generator edit without a rebuild (or a rebuild that changes the
    plant) fails loudly instead of silently shifting the resolve /
    retract / consolidation oracles."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import ER_AMBIG_PATH

    df = spark.read.parquet(ER_AMBIG_PATH)
    assert df.count() == 47
    ids = {r.rec_id for r in df.select("rec_id").collect()}
    # the planted groups and the chain must be present verbatim
    assert {100, 101, 102, 103, 104, 105, 106, 107, 130, 131} <= ids
    assert {300, 301, 302} <= ids, "the retraction bridge chain"
    assert {r for r in ids if r >= 400} == set(range(400, 414))
    names = {
        r.rec_id: r.name
        for r in df.filter("rec_id IN (301, 410, 411, 412, 413)").collect()
    }
    assert names[301] == "marra webber", "the bridge record"
    assert names[410] == "tove lindqvist" and names[411] == "tove lindquist"
    assert names[412] == "lena hofmaan", "group T confident arrival"
    assert names[413] == "lena hofmaann", "group T parked tie"


def test_drain_policy_algebra_on_random_scored_frames(spark):
    """Policy algebra pinned on a seeded random sweep of re-probe
    metrics, independent of any fixture: the four acceptance rules
    nest (toward_gap2 = toward ∩ gap2 ⊆ gap; gap2 ⊆ gap), every
    toward-accepted resolution carries the evidence it claims (re-probe
    lev strictly below the parked lev), dry re-probes always go `new`,
    and the status column is a pure function of matched_entity."""
    import numpy as np

    from changegen_spark.queries.er.resolve import (
        DRAIN_POLICIES,
        apply_drain_policy,
    )

    rng = np.random.default_rng(1302)
    n = 500
    rows = []
    for i in range(n):
        dry = rng.random() < 0.15
        rows.append(
            (
                i,
                None if dry else int(rng.integers(0, 50)),
                None if dry else int(rng.integers(0, 3)),
                None if dry else int(rng.choice([-1, 0, 1, 2, 3])),
                None if dry else int(rng.integers(1, 5)),
                int(rng.integers(0, 3)),
            )
        )
    scored = spark.createDataFrame(
        rows,
        "rec_id long, g_id long, lev long, gap long, nm long, "
        "park_lev long",
    )
    out = {
        p: {
            r.rec_id: (r.matched_entity, r.status)
            for r in apply_drain_policy(scored, margin=1, policy=p).collect()
        }
        for p in DRAIN_POLICIES
    }
    res = {
        p: {k for k, (m, _) in out[p].items() if m >= 0}
        for p in DRAIN_POLICIES
    }
    assert res["gap2"] <= res["gap"]
    assert res["toward"] <= res["gap"]
    assert res["toward_gap2"] == res["toward"] & res["gap2"]
    park = {r.rec_id: r.park_lev for r in scored.collect()}
    lev = {r.rec_id: r.lev for r in scored.collect()}
    for k in res["toward"]:
        assert lev[k] < park[k], "toward demands winner movement"
    for p in DRAIN_POLICIES:
        for k, (m, s) in out[p].items():
            want = {True: "new"}.get(m == -1) or (
                "still_ambiguous" if m == -2 else "resolved"
            )
            assert s == want
        dry_ids = {r.rec_id for r in scored.collect() if r.g_id is None}
        assert {k for k, (m, _) in out[p].items() if m == -1} == dry_ids


@pytest.mark.slow
def test_shadow_guard_dispositions_and_both_mechanisms(spark):
    """The batch twin of the streaming retraction-shadow guard pins
    every disposition over the fixture's {101, 105} delete batch: 400
    and 403 merge PAST a tombstone at gap >= margin (no
    over-triggering), 401 is shadowed by a tombstone TIE (its retracted
    rival), 404/405 by a STRICTLY-CLOSER tombstone (the retracted
    entity was their best match), live-tie parks and news are
    untouched.  With an empty delete batch the guard is the identity on
    margin assignment (zero shadowed rows)."""
    from pyspark.sql import functions as F

    from changegen_spark.queries.er import (
        _ambig_people,
        q_er_shadow_guard,
        shadow_guard_assign,
    )

    out = {
        r.rec_id: (r.matched_entity, r.t_lev, r.disposition)
        for r in q_er_shadow_guard(spark, "unused").collect()
    }
    assert out[400] == (100, 2, "merge"), "gap-2 tombstone must not veto"
    assert out[403] == (104, 2, "merge")
    assert out[401] == (-2, 1, "park_shadowed"), "tombstone tie"
    assert out[404] == (-2, 1, "park_shadowed"), "strictly-closer tombstone"
    assert out[405] == (-2, 2, "park_shadowed")
    for rid in (402, 407, 413):
        assert out[rid][0] == -2 and out[rid][2] == "park_margin"
    for rid in (408, 410, 411):
        assert out[rid][0] == -1 and out[rid][2] == "new"
    assert {r for r, v in out.items() if v[2] == "merge"} == {
        400, 403, 406, 409, 412,
    }

    ppl = _ambig_people(spark)
    empty = spark.createDataFrame([], "rec_id long")
    none_shadowed = shadow_guard_assign(
        ppl.filter(F.col("rec_id") >= 400),
        ppl.filter(F.col("rec_id") < 400),
        empty,
    )
    assert none_shadowed.filter("disposition = 'park_shadowed'").count() == 0
    assert none_shadowed.filter("t_lev != -1").count() == 0
