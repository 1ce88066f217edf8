"""Fluent CEP Pattern API (api.cep): builder compile + semantics vs the
MATCH_RECOGNIZE engine, flink-cep Pattern.java / CEP.java parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reshape_on_flink_spark.api.cep import CEP, Pattern, sym
from reshape_on_flink_spark.operators.cep import match_recognize


def _df(spark, values):
    return spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(values)], "k int, pos int, v int"
    )


def _matches(ps):
    rows = ps.flat_select().orderBy("match_id", "pos").collect()
    out = {}
    for r in rows:
        out.setdefault(r["match_id"], []).append((r["pos"], r["matched_symbol"]))
    return list(out.values())


# ---------------------------------------------------------------- compile


def test_compile_strict_chain_and_quantifiers(spark):
    # Default loop contiguity is RELAXED (Quantifier.java SKIP_TILL_NEXT):
    # loops compile to body+filler groups; emit picks reluctant
    # (first-completed, single-match skip strategies) vs greedy (no_skip
    # enumeration); explicit reluctant() stays reluctant under both.
    p = (
        Pattern.begin("a").where(F.col("v") == 1)
        .next("b").where(F.col("v") == 2).one_or_more()
        .next("c").where(F.col("v") == 3).optional()
        .next("d").where(F.col("v") == 4).times(2, 3)
        .next("e").where(F.col("v") == 5).times_or_more(2).reluctant()
    )
    pat, define, syms, within = p.compile()
    assert pat == "a b ( __lgap0*? b )*? c? d ( __lgap1*? d ){1,2}? e ( __lgap2*? e )+?"
    assert syms == ["a", "b", "c", "d", "e"]
    assert within is None
    assert set(define) == {"a", "b", "c", "d", "e", "__lgap0", "__lgap1", "__lgap2"}
    pat_all, _, _, _ = p.compile(emit="all")
    assert pat_all == "a b ( __lgap0*? b )* c? d ( __lgap1*? d ){1,2} e ( __lgap2*? e )+?"


def test_compile_consecutive_loops_are_plain_quantifiers(spark):
    # consecutive() = STRICT inner contiguity (Quantifier.java:101):
    # plain regex quantifiers, no filler symbols.
    p = (
        Pattern.begin("a").where("v = 1")
        .next("b").where("v = 2").one_or_more().consecutive()
        .next("d").where("v = 4").times(2, 3).consecutive()
    )
    assert p.compile()[0] == "a b+? d{2,3}?"
    assert p.compile(emit="all")[0] == "a b+ d{2,3}"


def test_compile_allow_combinations_unconditional_filler(spark):
    # allowCombinations = SKIP_TILL_ANY (Quantifier.java:85): the loop
    # filler is unconditional TRUE, greedy under no_skip enumeration.
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2").one_or_more().allow_combinations()
    )
    pat, define, _, _ = p.compile(emit="all")
    assert pat == "a __gap0*? b ( __lgap1* b )*"
    assert set(define) == {"a", "b", "__gap0", "__lgap1"}


def test_compile_relaxed_inserts_reluctant_fillers(spark):
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2")
        .followed_by("c").where("v = 3")
    )
    pat, define, syms, _ = p.compile()
    assert pat == "a __gap0*? b __gap1*? c"
    assert set(define) == {"a", "b", "c", "__gap0", "__gap1"}


def test_stage_names_are_validated_at_construction():
    """begin() applies the same identifier check as the linking methods:
    a quote in the first stage's name is rejected before any symbol or
    column name is built from it."""
    with pytest.raises(ValueError, match="identifier"):
        Pattern.begin("a'b")
    with pytest.raises(ValueError, match="identifier"):
        Pattern.begin("a").where("v=1").followed_by('b"c')
    assert Pattern.begin("a_1")._stages[0].name == "a_1"


def test_compile_rejections(spark):
    # consecutive/allowCombinations are mutually exclusive and
    # non-repeatable (Quantifier.java checkPattern messages)
    with pytest.raises(ValueError, match="not both"):
        Pattern.begin("a").where("v=1").one_or_more().consecutive().allow_combinations()
    with pytest.raises(ValueError, match="not both"):
        Pattern.begin("a").where("v=1").one_or_more().allow_combinations().consecutive()
    with pytest.raises(ValueError, match="already applied"):
        Pattern.begin("a").where("v=1").one_or_more().consecutive().consecutive()
    with pytest.raises(ValueError, match="not applicable"):
        Pattern.begin("a").where("v=1").consecutive()
    # terminal notFollowedBy is legal ONLY with within (Pattern.java:304)
    with pytest.raises(ValueError, match="within"):
        Pattern.begin("a").where("v=1").not_followed_by("n").where("v=9").compile()
    # not_next before a relaxed successor lead-folds into the preceding
    # stage — a bare compile() lacks the scan keys for the lookahead
    with pytest.raises(ValueError, match="lookahead"):
        (
            Pattern.begin("a").where("v=1")
            .not_next("n").where("v=9")
            .followed_by("b").where("v=2")
            .compile()
        )
    # ...and after a quantified stage it still raises (no last-element
    # lookahead)
    with pytest.raises(NotImplementedError, match="not_next after"):
        (
            Pattern.begin("a").where("v=1").one_or_more()
            .not_next("n").where("v=9")
            .followed_by("b").where("v=2")
            .compile()
        )
    # notFollowedBy before an optional stage: scope extends through the
    # absent branch — unsupported, loud
    with pytest.raises(NotImplementedError, match="optional"):
        (
            Pattern.begin("a").where("v=1")
            .not_followed_by("n").where("v=9")
            .followed_by("b").where("v=2").optional()
            .followed_by("c").where("v=3")
            .compile()
        )
    with pytest.raises(ValueError, match="no where"):
        Pattern.begin("a").next("b").where("v=1").compile()
    with pytest.raises(ValueError, match="duplicate stage"):
        Pattern.begin("a").next("a")
    with pytest.raises(ValueError, match="looping"):
        Pattern.begin("a").where("v=1").until("v=9")
    with pytest.raises(ValueError, match="cannot be quantified"):
        Pattern.begin("a").where("v=1").not_followed_by("n").times(2)


# --------------------------------------------------------------- semantics


def test_next_is_strict_followed_by_is_relaxed(spark):
    # 1 9 2: strict a(1) b(2) fails; relaxed skips the 9
    df = _df(spark, [1, 9, 2])
    strict = Pattern.begin("a").where("v = 1").next("b").where("v = 2")
    relaxed = Pattern.begin("a").where("v = 1").followed_by("b").where("v = 2")
    assert _matches(CEP.pattern(df, strict, "k", "pos")) == []
    assert _matches(CEP.pattern(df, relaxed, "k", "pos")) == [[(0, "a"), (2, "b")]]


def test_relaxed_takes_first_match_and_hides_fillers(spark):
    # Flink relaxed contiguity: the FIRST v=2 after the 1 wins (pos 2,
    # not pos 4), and the skipped v=9 row never appears in output.
    df = _df(spark, [1, 9, 2, 9, 2])
    p = Pattern.begin("a").where("v = 1").followed_by("b").where("v = 2")
    ps = CEP.pattern(df, p, "k", "pos")
    assert _matches(ps) == [[(0, "a"), (2, "b")]]
    assert all(
        not r["matched_symbol"].startswith("__gap")
        for r in ps.flat_select().collect()
    )


def test_not_followed_by_blocks_intervening_event(spark):
    # a ... b with no v=9 between: [1,2,2] ok from pos 0; [1,9,2] dead
    p = (
        Pattern.begin("a").where("v = 1")
        .not_followed_by("n").where("v = 9")
        .followed_by("b").where("v = 2")
    )
    ok = _matches(CEP.pattern(_df(spark, [1, 3, 2]), p, "k", "pos"))
    assert ok == [[(0, "a"), (2, "b")]]
    blocked = _matches(CEP.pattern(_df(spark, [1, 9, 2]), p, "k", "pos"))
    assert blocked == []


def test_not_next_folds_into_strict_stage(spark):
    # event after a must not be 9 — and b matches that same event
    p = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 9")
        .next("b").where("v > 1")
    )
    assert _matches(CEP.pattern(_df(spark, [1, 2]), p, "k", "pos")) == [
        [(0, "a"), (1, "b")]
    ]
    assert _matches(CEP.pattern(_df(spark, [1, 9]), p, "k", "pos")) == []


def test_until_stops_loop_collection(spark):
    # b+ collects v=2 until a v=8 appears; 8 then feeds stage c
    p = (
        Pattern.begin("a").where("v = 1")
        .next("b").where("v >= 2").one_or_more().until("v = 8")
        .next("c").where("v = 8")
    )
    got = _matches(CEP.pattern(_df(spark, [1, 2, 3, 8, 2]), p, "k", "pos"))
    assert got == [[(0, "a"), (1, "b"), (2, "b"), (3, "c")]]


def test_within_bounds_the_match(spark):
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2")
        .within(2.0)  # numeric order column: raw delta, strict <
    )
    # b at pos 2 -> delta 2 is NOT < 2 -> no match; b at pos 1 matches
    assert _matches(CEP.pattern(_df(spark, [1, 9, 2]), p, "k", "pos")) == []
    assert _matches(CEP.pattern(_df(spark, [1, 2, 9]), p, "k", "pos")) == [
        [(0, "a"), (1, "b")]
    ]


def test_where_ands_or_ors(spark):
    p = (
        Pattern.begin("a").where("v >= 1").where("v <= 3").or_("v = 7")
        .next("b").where("v = 5")
    )
    got = _matches(CEP.pattern(_df(spark, [7, 5, 4, 2, 5]), p, "k", "pos"))
    assert got == [[(0, "a"), (1, "b")], [(3, "a"), (4, "b")]]


def test_select_measures_with_sym_scoping(spark):
    df = _df(spark, [1, 5, 7, 2])
    p = (
        Pattern.begin("a").where("v = 1")
        .next("b").where("v > 2").one_or_more()
        .next("c").where("v = 2")
    )
    row = (
        CEP.pattern(df, p, "k", "pos")
        .select(
            n_rows=F.count(F.lit(1)),
            max_b=F.max(sym("b", "v")),
            start_pos=F.min("pos"),
        )
        .collect()
    )
    assert [(r["n_rows"], r["max_b"], r["start_pos"]) for r in row] == [(4, 7, 0)]


def test_select_equals_hand_built_match_recognize(spark):
    """The builder is sugar: compile output run through the engine
    directly must agree row-for-row."""
    df = _df(spark, [1, 9, 3, 4, 2, 1, 3, 2])
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v >= 3").one_or_more()
        .next("c").where("v = 2")
    )
    pat, define, _, _ = p.compile()
    direct = match_recognize(df, "k", "pos", pat, define)
    via = CEP.pattern(df, p, "k", "pos").flat_select()
    d = sorted(
        (r["pos"], r["matched_symbol"]) for r in direct.collect()
        if not r["matched_symbol"].startswith("__gap")
    )
    v = sorted((r["pos"], r["matched_symbol"]) for r in via.collect())
    assert d == v and len(v) > 0


def test_overlapping_matches_via_after_match(spark):
    df = _df(spark, [1, 1, 2])
    p = Pattern.begin("a").where("v = 1").followed_by("b").where("v = 2")
    tiled = _matches(CEP.pattern(df, p, "k", "pos"))
    assert tiled == [[(0, "a"), (2, "b")]]
    overlapped = _matches(CEP.pattern(df, p, "k", "pos", after_match="to_next_row"))
    assert overlapped == [[(0, "a"), (2, "b")], [(1, "a"), (2, "b")]]


def test_streaming_pattern_equals_batch(spark, tmp_dir):
    """CEP.pattern on a streaming frame (pandas predicates) == batch."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    values = [1, 9, 2, 4, 1, 2, 9, 1, 5, 2]
    df = _df(spark, values)
    batch_p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2")
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos").flat_select().collect()
    )
    assert len(expected) >= 4  # non-degenerate

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_fluent"), n_chunks=4, order_col="pos"
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .followed_by("b").where(lambda pdf: pdf["v"] == 2)
    )
    sdf = CEP.pattern(stream, stream_p, "k", "pos").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_fluent_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


# ------------------------------------------ terminal notFollowedBy + within


def test_terminal_not_followed_by_requires_within_and_filters(spark):
    """Pattern.java:304: notFollowedBy as the last stage is legal only
    with a within bound; a match is dropped iff a NOT-row occurs after
    its last row and before its WITHIN horizon."""
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2")
        .not_followed_by("x").where("v = 9")
        .within(5.0)
    )
    # x at pos 2 is inside the horizon (2 - 0 < 5): killed
    assert _matches(CEP.pattern(_df(spark, [1, 2, 9]), p, "k", "pos")) == []
    # no x at all: survives
    assert _matches(CEP.pattern(_df(spark, [1, 2, 3]), p, "k", "pos")) == [
        [(0, "a"), (1, "b")]
    ]
    # x exists but only AT/after the horizon (pos 5, delta 5 not < 5)
    assert _matches(
        CEP.pattern(_df(spark, [1, 2, 3, 3, 3, 9]), p, "k", "pos")
    ) == [[(0, "a"), (1, "b")]]


def test_terminal_not_sibling_expansions_survive(spark):
    """NFA branches are independent: a b+ notFollowedBy(x) over
    'a b1 x b2' — the {a b1} expansion is killed by the x, but the
    {a b1 b2} expansion (relaxed loop skips the x) has no x after it
    and survives, exactly Flink's branch semantics."""
    df = _df(spark, [1, 2, 9, 2])
    p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2").one_or_more()
        .not_followed_by("x").where("v = 9")
        .within(100.0)
    )
    assert _row_sets(CEP.pattern(df, p, "k", "pos")) == [(0, 1, 3)]
    # no_skip: only the surviving expansion is emitted
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == [
        (0, 1, 3)
    ]
    # and with every expansion surviving (no x), no_skip emits both
    df2 = _df(spark, [1, 2, 2, 5])
    assert _row_sets(CEP.pattern(df2, p, "k", "pos", after_match="no_skip")) == [
        (0, 1), (0, 1, 2)
    ]


def test_terminal_not_streaming_equals_batch(spark, tmp_dir):
    """Streaming terminal notFollowedBy: survivors are emitted once the
    horizon closes, kills never emit — equal to batch. Trailing rows
    push every horizon closed so the stream can drain fully."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    # per-pos semantics with within 3: (1,2) at 0,1 then x at 2 -> kill;
    # (1,2) at 4,5 with x at 9 beyond horizon -> survive; trailing noise
    # rows at 20,21 close all horizons
    values = [1, 2, 9, 3, 1, 2, 3, 3, 3, 9, 3, 3]
    df = _df(spark, values)
    batch_p = (
        Pattern.begin("a").where("v = 1")
        .followed_by("b").where("v = 2")
        .not_followed_by("x").where("v = 9")
        .within(3.0)
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos").flat_select().collect()
    )
    assert expected == [(4, "a"), (5, "b")]  # first pair killed by the x

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_tn"), n_chunks=4, order_col="pos"
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .followed_by("b").where(lambda pdf: pdf["v"] == 2)
        .not_followed_by("x").where(lambda pdf: pdf["v"] == 9)
        .within(3.0)
    )
    sdf = CEP.pattern(stream, stream_p, "k", "pos").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_tn_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


# ------------------------------------------- reference contiguity matrix


def _row_sets(ps):
    """flat_select -> sorted list of per-match sorted pos tuples."""
    out = {}
    for r in ps.flat_select().collect():
        out.setdefault(r["match_id"], []).append(r["pos"])
    return sorted(tuple(sorted(v)) for v in out.values())


def test_loop_contiguity_reference_matrix(spark):
    """docs/content/docs/libs/cep.md 'Contiguity within looping patterns':
    input C D A1 A2 A3 D A4 B, pattern C A+ B (relaxed stage gaps) —
    relaxed inner: 4 matches; consecutive: 3; allowCombinations: 8."""
    # C=1 D=9 A=2 B=3; A1..A4 at pos 2,3,4,6; B at 7
    df = _df(spark, [1, 9, 2, 2, 2, 9, 2, 3])

    def build(mode):
        p = (
            Pattern.begin("c").where("v = 1")
            .followed_by("a").where("v = 2").one_or_more()
        )
        if mode == "strict":
            p = p.consecutive()
        elif mode == "comb":
            p = p.allow_combinations()
        return p.followed_by("b").where("v = 3")

    def rows(mode):
        return _row_sets(CEP.pattern(df, build(mode), "k", "pos", after_match="no_skip"))

    # every match contains A1 (relaxed stage contiguity takes the FIRST A)
    assert rows("relaxed") == sorted(
        [(0, 2, 7), (0, 2, 3, 7), (0, 2, 3, 4, 7), (0, 2, 3, 4, 6, 7)]
    )
    # strict inner contiguity: the D at pos 5 breaks the loop before A4
    assert rows("strict") == sorted([(0, 2, 7), (0, 2, 3, 7), (0, 2, 3, 4, 7)])
    # combinations: every subset of {A2,A3,A4} on top of A1 -> 8
    assert rows("comb") == sorted(
        [
            (0, 2, 7), (0, 2, 3, 7), (0, 2, 3, 4, 7), (0, 2, 3, 4, 6, 7),
            (0, 2, 3, 6, 7), (0, 2, 4, 7), (0, 2, 4, 6, 7), (0, 2, 6, 7),
        ]
    )


def test_followed_by_any_compile_and_singleton(spark):
    """followedByAny (SKIP_TILL_ANY stage gap, Pattern.java:322):
    greedy filler under noSkip enumeration — every candidate event for
    the stage spawns a match; followed_by takes only the first."""
    p = Pattern.begin("a").where("v = 1").followed_by_any("b").where("v = 2")
    assert p.compile()[0] == "a __gap0*? b"  # single-match: first branch
    assert p.compile(emit="all")[0] == "a __gap0* b"

    df = _df(spark, [1, 9, 2, 2])
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == [
        (0, 2), (0, 3)
    ]
    rel = Pattern.begin("a").where("v = 1").followed_by("b").where("v = 2")
    assert _row_sets(CEP.pattern(df, rel, "k", "pos", after_match="no_skip")) == [
        (0, 2)
    ]


def test_followed_by_any_looping_docs_matrix(spark):
    """docs cep.md 'Contiguity within looping patterns': a b+ c with
    NON-DETERMINISTIC stage links over 'a b1 d1 b2 d2 b3 c' — relaxed
    inner loop gives the 6 interval matches; allowCombinations gives
    all 7 nonempty subsets. (The section's 'strict' row folds the
    stage-level discard into the loop and contradicts the consecutive()
    section's own matrix, which we pin instead in
    test_loop_contiguity_reference_matrix.)"""
    # a=1 d=9 b=2 c=3; b1,b2,b3 at pos 1,3,5; c at 6
    df = _df(spark, [1, 2, 9, 2, 9, 2, 3])

    def build(mode):
        p = (
            Pattern.begin("a").where("v = 1")
            .followed_by_any("b").where("v = 2").one_or_more()
        )
        if mode == "comb":
            p = p.allow_combinations()
        return p.followed_by_any("c").where("v = 3")

    relaxed = _row_sets(CEP.pattern(df, build("relaxed"), "k", "pos", after_match="no_skip"))
    assert relaxed == sorted(
        [(0, 1, 6), (0, 1, 3, 6), (0, 1, 3, 5, 6), (0, 3, 6), (0, 3, 5, 6), (0, 5, 6)]
    )
    comb = _row_sets(CEP.pattern(df, build("comb"), "k", "pos", after_match="no_skip"))
    assert comb == sorted(
        [
            (0, 1, 6), (0, 1, 3, 6), (0, 1, 3, 5, 6), (0, 1, 5, 6),
            (0, 3, 6), (0, 3, 5, 6), (0, 5, 6),
        ]
    )


def test_until_stop_condition_docs_example(spark):
    """Pattern.java:219 / docs oneOrMore()+until(): pattern a+ until(b)
    over 'a1 c a2 b a3' emits {a1 a2} {a1} {a2} {a3} — collection stops
    at the b, so a3 never pairs with a1/a2."""
    df = _df(spark, [1, 9, 1, 8, 1])  # a=1 c=9 b=8
    p = Pattern.begin("a").where("v = 1").one_or_more().until("v = 8")
    got = _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip"))
    assert got == [(0,), (0, 2), (2,), (4,)]


# --------------------------------------- AfterMatchSkip reference matrix


def test_after_match_skip_matrix_bplus_c(spark):
    """docs cep.md AfterMatchSkipStrategy table 1: pattern b+ c (strict,
    MATCH_RECOGNIZE notation) over b1 b2 b3 c."""
    df = _df(spark, [2, 2, 2, 3])  # b=2 c=3
    p = (
        Pattern.begin("b").where("v = 2").one_or_more().consecutive()
        .next("c").where("v = 3")
    )
    full, mid, last = (0, 1, 2, 3), (1, 2, 3), (2, 3)
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == [
        full, mid, last
    ]
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="to_next_row")) == [
        full, mid, last
    ]
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="past_last_row")) == [
        full
    ]


def test_after_match_skip_matrix_a_bplus(spark):
    """docs cep.md NO_SKIP vs SKIP_TO_NEXT table: pattern a b+ over
    a b1 b2 b3 — noSkip emits all three expansions from the single
    start; skipToNext emits only the first-completed {a b1}."""
    df = _df(spark, [1, 2, 2, 2])
    p = Pattern.begin("a").where("v = 1").followed_by("b").where("v = 2").one_or_more()
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == [
        (0, 1), (0, 1, 2), (0, 1, 2, 3)
    ]
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="to_next_row")) == [
        (0, 1)
    ]


def test_after_match_skip_greedy_matrix(spark):
    """docs cep.md NO_SKIP vs SKIP_TO_FIRST table: pattern
    (a|b|c) (b|c) c+.greedy d over a b c1 c2 c3 d — greedy prunes each
    start to its longest expansion; skipToFirst[c] resumes at c1."""
    df = _df(spark, [1, 2, 3, 3, 3, 4])  # a=1 b=2 c=3 d=4
    p = (
        Pattern.begin("s1").where("v in (1,2,3)")
        .followed_by("s2").where("v in (2,3)")
        .followed_by("c").where("v = 3").one_or_more().greedy()
        .followed_by("d").where("v = 4")
    )
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == [
        (0, 1, 2, 3, 4, 5), (1, 2, 3, 4, 5), (2, 3, 4, 5)
    ]
    assert _row_sets(CEP.pattern(df, p, "k", "pos", after_match="to_first c")) == [
        (0, 1, 2, 3, 4, 5), (2, 3, 4, 5)
    ]


def test_streaming_loop_pattern_equals_batch(spark, tmp_dir):
    """Round-7 regression: a streaming fluent pattern with a looping
    stage must materialize the '__lgapN' relaxed-loop fillers (it used
    to raise 'pattern symbols without DEFINE') and agree with batch."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    values = [1, 9, 2, 2, 9, 2, 3, 1, 2, 3]
    df = _df(spark, values)
    batch_p = (
        Pattern.begin("c").where("v = 1")
        .followed_by("a").where("v = 2").one_or_more()
        .followed_by("b").where("v = 3")
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos").flat_select().collect()
    )
    assert len(expected) >= 6  # two tiled matches, loop engaged

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_loop"), n_chunks=4, order_col="pos"
    )
    stream_p = (
        Pattern.begin("c").where(lambda pdf: pdf["v"] == 1)
        .followed_by("a").where(lambda pdf: pdf["v"] == 2).one_or_more()
        .followed_by("b").where(lambda pdf: pdf["v"] == 3)
    )
    sdf = CEP.pattern(stream, stream_p, "k", "pos").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_loop_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


def test_builder_compile_round_trips_through_both_parsers(spark):
    """Every compilable builder chain must produce a pattern string the
    engine's parsers accept, with DEFINE covering exactly the symbols —
    across quantifier forms and contiguity mixes."""
    import itertools

    from reshape_on_flink_spark.operators.cep import (
        ast_symbols,
        parse_pattern_ast,
    )

    quants = [
        lambda p: p,
        lambda p: p.one_or_more(),
        lambda p: p.times(2),
        lambda p: p.times(1, 3),
        lambda p: p.optional(),
        lambda p: p.times_or_more(2).reluctant(),
    ]
    links = ["next", "followed_by"]
    for q1, q2, link in itertools.product(quants, quants, links):
        p = Pattern.begin("a").where("v = 1")
        p = q1(p)
        p = getattr(p, link)("b").where("v = 2")
        p = q2(p)
        pat, define, syms, _ = p.compile()
        parsed = ast_symbols(parse_pattern_ast(pat))
        assert set(parsed) == set(define), (pat, parsed, sorted(define))
        assert set(syms) == {"a", "b"}


# ------------------------------------------------ group patterns (GroupPattern)


def _grp(spark, vals):
    return spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k int, pos int, v int"
    )


def _ab():
    # the ITCases' (a b) group: middle1 followedBy middle2
    return Pattern.begin("m1").where("v = 1").followed_by("m2").where("v = 2")


def _g_rows(df, p, after="no_skip"):
    out = {}
    for r in CEP.pattern(df, p, "k", "pos", after_match=after).flat_select().collect():
        out.setdefault(r["match_id"], []).append(r["pos"])
    return sorted(tuple(sorted(v)) for v in out.values())


C, A, B, D, E = 0, 1, 2, 3, 4  # event-name encoding for the ITCase inputs


def test_group_followed_by_quantified(spark):
    """GroupITCase.testGroupFollowedBy{Times,OneOrMore,ZeroOrMore,
    Optional} + testFollowedByGroupTimesOptional: quantifiers on a
    followedBy group, noSkip emission, exact reference match sets."""
    d = _grp(spark, [C, A, B, A, B, D])

    def chain(q):
        p = Pattern.begin("s").where("v = 0").followed_by(_ab())
        p = q(p)
        return p.followed_by("e").where("v = 3")

    # c (a b){2} d -> {c a1 b1 a2 b2 d}
    assert _g_rows(d, chain(lambda p: p.times(2))) == [(0, 1, 2, 3, 4, 5)]
    # c (a b)+ d -> {c a1 b1 d}, {c a1 b1 a2 b2 d}
    assert _g_rows(d, chain(lambda p: p.one_or_more())) == [
        (0, 1, 2, 3, 4, 5), (0, 1, 2, 5)
    ]
    # c (a b)* d -> + {c d}
    assert _g_rows(d, chain(lambda p: p.one_or_more().optional())) == [
        (0, 1, 2, 3, 4, 5), (0, 1, 2, 5), (0, 5)
    ]
    # c (a b)? d over c a1 a2 b d -> {c d}, {c a1 b d} (relaxed link
    # commits to the FIRST group start; a2 never begins a group)
    d2 = _grp(spark, [C, A, A, B, D])
    assert _g_rows(d2, chain(lambda p: p.optional())) == [(0, 1, 3, 4), (0, 4)]
    # c (a b){2}? d over c a d -> only {c d}: times(2).optional() is
    # 0-or-2 occurrences, and the group cannot complete even once
    d3 = _grp(spark, [C, A, D])
    assert _g_rows(d3, chain(lambda p: p.times(2).optional())) == [(0, 2)]


def test_group_followed_by_any_quantified(spark):
    """GroupITCase.testGroupFollowedByAny{TimesCombinations,
    TimesOptional,OneOrMore}: followedByAny group links branch over
    every group start; inner contiguity picks combinations vs
    contiguous repetitions."""
    d = _grp(spark, [C, A, B, A, B, A, B, D])
    g1, g2, g3 = (1, 2), (3, 4), (5, 6)

    def chain(q):
        p = Pattern.begin("s").where("v = 0").followed_by_any(_ab())
        p = q(p)
        return p.followed_by("e").where("v = 3")

    # c any (a b){2} allowCombinations d -> rep pairs (1,2),(1,3),(2,3)
    assert _g_rows(d, chain(lambda p: p.times(2).allow_combinations())) == sorted(
        [(0, *g1, *g2, 7), (0, *g1, *g3, 7), (0, *g2, *g3, 7)]
    )
    # c any (a b){2}? d (relaxed inner) -> {c d} + contiguous pairs
    assert _g_rows(d, chain(lambda p: p.times(2).optional())) == sorted(
        [(0, 7), (0, *g1, *g2, 7), (0, *g2, *g3, 7)]
    )
    # c any (a b){1,} d -> every contiguous repetition interval
    assert _g_rows(d, chain(lambda p: p.one_or_more())) == sorted(
        [
            (0, *g1, 7), (0, *g2, 7), (0, *g3, 7),
            (0, *g1, *g2, 7), (0, *g2, *g3, 7), (0, *g1, *g2, *g3, 7),
        ]
    )


def test_group_next_and_begin(spark):
    """GroupITCase.testGroupNextZeroOrMore (strict link to the group) +
    testGroupBegin (a pattern sequence STARTING with a group)."""
    d = _grp(spark, [C, A, B, A, B, A, B, D])
    p = (
        Pattern.begin("s").where("v = 0")
        .next(_ab()).one_or_more().optional()
        .followed_by("e").where("v = 3")
    )
    assert _g_rows(d, p) == sorted(
        [(0, 7), (0, 1, 2, 7), (0, 1, 2, 3, 4, 7), (0, 1, 2, 3, 4, 5, 6, 7)]
    )

    # (a b){1,2} d over a b a b d -> starts at both groups + the pair
    d2 = _grp(spark, [A, B, A, B, D])
    p2 = Pattern.begin(_ab()).times(1, 2).followed_by("e").where("v = 3")
    assert _g_rows(d2, p2) == sorted([(0, 1, 4), (2, 3, 4), (0, 1, 2, 3, 4)])


def test_group_not_followed_by(spark):
    """GroupITCase.testGroupNotFollowedBy: c any(a b) ^d e over
    'c a1 b1 d a2 b2 e' — the (a1 b1) branch dies on the d between it
    and e; only {c a2 b2 e} survives."""
    d = _grp(spark, [C, A, B, D, A, B, E])
    p = (
        Pattern.begin("s").where("v = 0")
        .followed_by_any(_ab())
        .not_followed_by("n").where("v = 3")
        .followed_by("e").where("v = 4")
    )
    assert _g_rows(d, p) == [(0, 4, 5, 6)]


def test_group_nested(spark):
    """GroupITCase.testGroupNest: d (a (b c)*)? e over
    'd a b c b c e' — nested group loop enumerates its prefixes inside
    the optional outer group."""
    d = _grp(spark, [3, 0, 1, 2, 1, 2, 4])  # d=3 a=0 b=1 c=2 e=4
    inner = Pattern.begin("b").where("v = 1").followed_by("c2").where("v = 2")
    mid = (
        Pattern.begin("a").where("v = 0")
        .followed_by(inner).one_or_more().optional()
    )
    p = (
        Pattern.begin("s").where("v = 3")
        .followed_by(mid).optional()
        .followed_by("e").where("v = 4")
    )
    assert _g_rows(d, p) == sorted(
        [(0, 6), (0, 1, 6), (0, 1, 2, 3, 6), (0, 1, 2, 3, 4, 5, 6)]
    )


def test_group_one_or_more_with_until(spark):
    """GroupITCase.testGroupFollowedByOneOrMoreWithUntilCondition:
    c (a b)+ until(d) d — identical match set to the plain oneOrMore
    ITCase on this input (the stop event is also the end stage)."""
    d = _grp(spark, [C, A, B, A, B, D])
    p = (
        Pattern.begin("s").where("v = 0")
        .followed_by(_ab()).one_or_more().until("v = 3")
        .followed_by("e").where("v = 3")
    )
    assert _g_rows(d, p) == [(0, 1, 2, 3, 4, 5), (0, 1, 2, 5)]


def test_group_builder_guards(spark):
    """GroupPattern.java guard parity: where/or on a group raises;
    greedy() on a group raises (MalformedPatternException)."""
    g = _ab()
    p = Pattern.begin("s").where("v = 0").followed_by(g)
    with pytest.raises(ValueError, match="GroupPattern does not support where"):
        p.where("v = 9")
    with pytest.raises(ValueError, match="GroupPattern does not support or"):
        p.or_("v = 9")
    with pytest.raises(ValueError, match="not applicable to group"):
        p.one_or_more().greedy()
    with pytest.raises(ValueError, match="Optional already applied"):
        Pattern.begin("a").where("v=1").optional().optional()


def test_times_optional_is_zero_or_exact(spark):
    """Flink semantics fix: times(2).optional() means 0 OR 2
    occurrences — one lone occurrence must NOT match (previously
    compiled to {0,2} which admits 1)."""
    d = _df(spark, [1, 2, 3])  # a, one b, then c
    p = (
        Pattern.begin("a").where("v = 1")
        .next("b").where("v = 2").times(2).optional().consecutive()
        .next("c").where("v = 3")
    )
    # b appears ONCE: only the 0-occurrence branch could match, and it
    # requires c directly after a (strict next), which fails -> nothing
    assert _matches(CEP.pattern(d, p, "k", "pos", after_match="no_skip")) == []
    d2 = _df(spark, [1, 3])
    assert _g_rows(d2, p) == [(0, 1)]  # zero-occurrence branch
    d3 = _df(spark, [1, 2, 2, 3])
    # exactly two b's: the 2-branch matches; the 0-branch needs c at
    # pos 1 (strict) and fails
    assert _g_rows(d3, p) == [(0, 1, 2, 3)]


# ---------------------------------- UntilConditionITCase / TimesRangeITCase


def _ev_df(spark, rows):
    """rows: (nm, pr) — name-class and price per event, pos = index."""
    return spark.createDataFrame(
        [(1, i, nm, pr) for i, (nm, pr) in enumerate(rows)],
        "k int, pos int, nm int, pr int",
    )


def test_until_condition_itcase_matrix(spark):
    """UntilConditionITCase tests 1-7: pattern c (a)+/* until(price=5)
    followedBy end(price=5) across relaxed / allowCombinations /
    consecutive inner contiguity and the zeroOrMore (optional) variants
    — exact reference match sets under noSkip."""
    C, A, B = 0, 1, 2

    def build(mode, optional):
        p = (
            Pattern.begin("s").where("nm = 0")
            .followed_by("m").where("nm = 1").one_or_more()
        )
        if mode == "comb":
            p = p.allow_combinations()
        elif mode == "strict":
            p = p.consecutive()
        if optional:
            p = p.optional()
        return p.until("pr = 5").followed_by("e").where("pr = 5")

    def got(df, mode, optional=False):
        return _g_rows(df, build(mode, optional))

    # input: c a(2) a(3) BRK(a,5) a(6)
    d1 = _ev_df(spark, [(C, 1), (A, 2), (A, 3), (A, 5), (A, 6)])
    # 1: relaxed oneOrMore -> {c m1 m2 brk}, {c m1 brk}
    assert got(d1, "relaxed") == sorted([(0, 1, 2, 3), (0, 1, 3)])
    # 3: consecutive -> same sets on this input
    assert got(d1, "strict") == sorted([(0, 1, 2, 3), (0, 1, 3)])
    # 5/7: zeroOrMore adds the empty-loop {c brk}
    assert got(d1, "relaxed", True) == sorted([(0, 1, 2, 3), (0, 1, 3), (0, 3)])
    assert got(d1, "strict", True) == sorted([(0, 1, 2, 3), (0, 1, 3), (0, 3)])

    # 2/6: input c a(2) a(3) a(4) BRK(5) a(6) — combinations over
    # {m2,m3} on top of the forced m1
    d2 = _ev_df(spark, [(C, 1), (A, 2), (A, 3), (A, 4), (A, 5), (A, 6)])
    assert got(d2, "comb") == sorted(
        [(0, 1, 2, 3, 4), (0, 1, 2, 4), (0, 1, 3, 4), (0, 1, 4)]
    )
    assert got(d2, "comb", True) == sorted(
        [(0, 1, 2, 3, 4), (0, 1, 2, 4), (0, 1, 3, 4), (0, 1, 4), (0, 4)]
    )

    # 4: consecutive2 — input c a(2) b(3) a(4) BRK(5) a(6): the b
    # breaks the strict run after m1; the relaxed stage gap has already
    # committed to m1, so only {c m1 brk}
    d3 = _ev_df(spark, [(C, 1), (A, 2), (B, 3), (A, 4), (A, 5), (A, 6)])
    assert got(d3, "strict") == [(0, 1, 4)]


def test_times_range_itcase(spark):
    """TimesRangeITCase.testTimesRange / testTimesRangeFromZero:
    strict-linked times(lo,hi).allowCombinations() — every subset of
    the candidate set containing the strict first element, sized within
    the bounds; lo=0 adds the empty branch."""
    d = _df(spark, [1, 2, 2, 2, 3])  # c a1 a2 a3 b

    def build(lo, hi):
        return (
            Pattern.begin("s").where("v = 1")
            .next("m").where("v = 2").times(lo, hi).allow_combinations()
            .followed_by("e").where("v = 3")
        )

    # times(1,3): {a1 a2 a3}, {a1 a2}, {a1 a3}, {a1}
    assert _g_rows(d, build(1, 3)) == sorted(
        [(0, 1, 2, 3, 4), (0, 1, 2, 4), (0, 1, 3, 4), (0, 1, 4)]
    )
    # times(0,2): {a1 a2}, {a1 a3}, {a1}, {}
    assert _g_rows(d, build(0, 2)) == sorted(
        [(0, 1, 2, 4), (0, 1, 3, 4), (0, 1, 4), (0, 4)]
    )


# -------------------------------------------------------------- GreedyITCase


def test_greedy_early_completion_coexists_with_extension(spark):
    """Round-13 match-surface correction: updateWithGreedyCondition
    guards only the loop's IMMEDIATE sink, so a branch that jumped to
    the sink on a clean event and moved PAST it is unguarded — later
    loop-take-able events cannot kill it. Over ``a b c b c d`` with
    ``a b+.greedy c d``, the NFA emits BOTH {a,b1,c1,d} (jumped at c1,
    sat at the unguarded D state through b2) and {a,b1,b2,c2,d}; the
    pre-round-13 possessive commit kept only the longest. Control:
    ``a b b c d`` still yields the single longest match (the early
    jump {a,b1,c}-candidates are span-killed by b2)."""
    def pat():
        return (
            Pattern.begin("s").where("nm = 0")
            .followed_by("m").where("nm = 1").one_or_more().greedy()
            .followed_by("e").where("nm = 2")
            .followed_by("f").where("nm = 3")
        )

    def df(rows):
        return spark.createDataFrame(
            [(1, i, nm) for i, nm in enumerate(rows)], "k int, pos int, nm int"
        )

    # nm: a=0 b=1 c=2 d=3
    assert _g_rows(df([0, 1, 2, 1, 2, 3]), pat()) == sorted(
        [(0, 1, 2, 5), (0, 1, 3, 4, 5)]
    )
    assert _g_rows(df([0, 1, 1, 2, 3]), pat()) == [(0, 1, 2, 3, 4)]


def test_greedy_itcase_matrix(spark):
    """GreedyITCase core rows: greedy() commits each start to its
    longest expansion (relaxed gaps skip the 'dummy' rows), EXCEPT on
    the pattern's terminal stage where Flink enumerates."""
    # nm: c=0 a=1 d=2 dummy=9
    C, A, D, X = 0, 1, 2, 9

    def chain(q, end=True):
        p = Pattern.begin("s").where("nm = 0").followed_by("m").where("nm = 1")
        p = q(p)
        return p.followed_by("e").where("nm = 2") if end else p

    def got(rows, p):
        return _g_rows(
            spark.createDataFrame(
                [(1, i, nm) for i, nm in enumerate(rows)], "k int, pos int, nm int"
            ),
            p,
        )

    # testGreedyOneOrMore / ZeroOrMore: longest only
    assert got([C, A, A, A, D], chain(lambda p: p.one_or_more().greedy())) == [
        (0, 1, 2, 3, 4)
    ]
    assert got(
        [C, A, A, A, D], chain(lambda p: p.one_or_more().optional().greedy())
    ) == [(0, 1, 2, 3, 4)]
    # ...InBetween: dummies between the a's are skipped, still longest
    assert got(
        [C, X, A, X, A, X, A, D], chain(lambda p: p.one_or_more().greedy())
    ) == [(0, 2, 4, 6, 7)]
    # ...WithDummyEventsAfterQuantifier: trailing dummy before d
    assert got([C, A, A, X, D], chain(lambda p: p.one_or_more().greedy())) == [
        (0, 1, 2, 4)
    ]
    # ...WithDummyEventsBeforeQuantifier: no a at all — oneOrMore dies,
    # zeroOrMore emits the empty-loop match
    assert got([C, X, D], chain(lambda p: p.one_or_more().greedy())) == []
    assert got(
        [C, X, D], chain(lambda p: p.one_or_more().optional().greedy())
    ) == [(0, 2)]
    # testGreedyTimesRange: times(2,5).greedy -> longest within bounds
    assert got(
        [C, A, A, A, A, D], chain(lambda p: p.times(2, 5).greedy())
    ) == [(0, 1, 2, 3, 4, 5)]

    # terminal-stage exception (testEndWithZeroOrMoreGreedy /
    # ...ConsecutiveGreedy / testEndWithGreedyTimesRange): greedy on the
    # LAST stage is ignored — every expansion is emitted
    assert got(
        [C, A, A, X, A],
        chain(lambda p: p.one_or_more().optional().greedy(), end=False),
    ) == sorted([(0,), (0, 1), (0, 1, 2), (0, 1, 2, 4)])
    assert got(
        [C, A, A, X, A],
        chain(lambda p: p.one_or_more().optional().consecutive().greedy(), end=False),
    ) == sorted([(0,), (0, 1), (0, 1, 2)])
    assert got(
        [C, A, A, A, A, X],
        chain(lambda p: p.times(2, 5).greedy(), end=False),
    ) == sorted([(0, 1, 2), (0, 1, 2, 3), (0, 1, 2, 3, 4)])


def test_greedy_until_itcase(spark):
    """GreedyITCase until rows: the stop condition excludes its event
    from the loop AND kills the waiting loop branch when it arrives
    before the first loop element (zeroOrMore's empty branch survives)."""
    # (nm, pr): c=(0,1), a=(1,pr), d=(2,3); until: pr > 3
    def build(optional):
        p = Pattern.begin("s").where("nm = 0").followed_by("m").where("nm = 1")
        p = p.one_or_more()
        if optional:
            p = p.optional()
        return (
            p.greedy().until("pr > 3").followed_by("e").where("nm = 2")
        )

    # ...AfterQuantifier: c a(2) a(3) a(3) STOP(a,4) d -> loop takes the
    # three sub-stop a's, the gap to d skips the stop event
    d1 = _ev_df(spark, [(0, 1), (1, 2), (1, 3), (1, 3), (1, 4), (2, 3)])
    assert _g_rows(d1, build(False)) == [(0, 1, 2, 3, 5)]
    # ...BeforeQuantifier: c STOP(a,4) a(2) a(3) a(3) d -> the stop
    # arrives before any loop element: oneOrMore dead, zeroOrMore {c d}
    d2 = _ev_df(spark, [(0, 1), (1, 4), (1, 2), (1, 3), (1, 3), (2, 3)])
    assert _g_rows(d2, build(False)) == []
    assert _g_rows(d2, build(True)) == [(0, 5)]


def test_greedy_before_group_pattern(spark):
    """GreedyITCase.testGreedyZeroOrMoreBeforeGroupPattern: a greedy
    zero-or-more feeding a times(2) group — one match, the loop longest
    and both group repetitions consumed."""
    # nm: c=0 a=1 d=2 e=3 f=4 dummy=9
    rows = [0, 1, 1, 9, 1, 2, 3, 2, 3, 4]
    d = spark.createDataFrame(
        [(1, i, nm) for i, nm in enumerate(rows)], "k int, pos int, nm int"
    )
    grp = Pattern.begin("d").where("nm = 2").followed_by("e2").where("nm = 3")
    p = (
        Pattern.begin("s").where("nm = 0")
        .followed_by("m").where("nm = 1").one_or_more().optional().greedy()
        .followed_by(grp).times(2)
        .followed_by("f").where("nm = 4")
    )
    assert _g_rows(d, p) == [(0, 1, 2, 4, 5, 6, 7, 8, 9)]


# ----------------------------------------------------------- NotPatternITCase


def test_not_pattern_itcase_matrix(spark):
    """NotPatternITCase ports: testNotNext (relaxed successor via the
    lead-lookahead fold), testNotNextNoMatches, testNotFollowedBy
    (followedByAny successor), testNotFollowedByWithBranchingAtStart."""
    # nm: a=0 b=1 c=2 d=3
    A, B, C, D = 0, 1, 2, 3

    def nm_df(rows):
        return spark.createDataFrame(
            [(1, i, nm) for i, nm in enumerate(rows)], "k int, pos int, nm int"
        )

    # testNotNext: a ^b c(any) d over 'a c1 b c2 d' — the row after a is
    # c1 (not b), so BOTH c candidates match
    p = (
        Pattern.begin("s").where("nm = 0")
        .not_next("n").where("nm = 1")
        .followed_by_any("m").where("nm = 2")
        .followed_by("e").where("nm = 3")
    )
    assert _g_rows(nm_df([A, C, B, C, D]), p) == sorted([(0, 1, 4), (0, 3, 4)])

    # testNotNextNoMatches: a ^b c c d over 'a b c c d' — b directly
    # after a kills every start
    p2 = (
        Pattern.begin("s").where("nm = 0")
        .not_next("n").where("nm = 1")
        .followed_by("m1").where("nm = 2")
        .followed_by("m2").where("nm = 2")
        .followed_by("e").where("nm = 3")
    )
    assert _g_rows(nm_df([A, B, C, C, D]), p2) == []

    # testNotFollowedBy: a ^b c(any) d over 'a c1 b c2 d' — the gap to
    # c2 contains the b, so only the c1 branch survives
    p3 = (
        Pattern.begin("s").where("nm = 0")
        .not_followed_by("n").where("nm = 1")
        .followed_by_any("m").where("nm = 2")
        .followed_by("e").where("nm = 3")
    )
    assert _g_rows(nm_df([A, C, B, C, D]), p3) == [(0, 1, 4)]

    # testNotFollowedByWithBranchingAtStart: 'a1 b c1 a2 c2 d' — a1's
    # gap to any c crosses the b; only {a2 c2 d}
    p4 = (
        Pattern.begin("s").where("nm = 0")
        .not_followed_by("n").where("nm = 1")
        .followed_by("m").where("nm = 2")
        .followed_by("e").where("nm = 3")
    )
    assert _g_rows(nm_df([A, B, C, A, C, D]), p4) == [(3, 4, 5)]


def test_not_next_relaxed_streaming_equals_batch(spark, tmp_dir):
    """The lead-lookahead not_next fold on the streaming route
    (shift(-1) pandas wrap) == batch."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    values = [0, 2, 1, 2, 3, 0, 1, 2, 3, 0, 2, 3]
    df = spark.createDataFrame(
        [(1, i, nm) for i, nm in enumerate(values)], "k int, pos int, nm int"
    )
    batch_p = (
        Pattern.begin("s").where("nm = 0")
        .not_next("n").where("nm = 1")
        .followed_by("m").where("nm = 2")
        .followed_by("e").where("nm = 3")
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos").flat_select().collect()
    )
    assert len(expected) >= 6  # two surviving starts, one killed by ^b

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_nn"), n_chunks=4, order_col="pos"
    )
    stream_p = (
        Pattern.begin("s").where(lambda pdf: pdf["nm"] == 0)
        .not_next("n").where(lambda pdf: pdf["nm"] == 1)
        .followed_by("m").where(lambda pdf: pdf["nm"] == 2)
        .followed_by("e").where(lambda pdf: pdf["nm"] == 3)
    )
    sdf = CEP.pattern(stream, stream_p, "k", "pos").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_nn_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


def test_group_pattern_streaming_equals_batch(spark, tmp_dir):
    """Group patterns on the STREAMING route: the group-loop '__lgap'
    filler rebuilds from the group's first-stage pandas predicate;
    result equals batch."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    # c (a b)+ d twice over, with noise: 0=(c) 1=(a) 2=(b) 3=(d) 9=noise
    values = [0, 1, 2, 1, 2, 3, 9, 0, 1, 2, 3]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(values)], "k int, pos int, v int"
    )
    batch_p = (
        Pattern.begin("s").where("v = 0")
        .followed_by(
            Pattern.begin("m1").where("v = 1").followed_by("m2").where("v = 2")
        ).one_or_more()
        .followed_by("e").where("v = 3")
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos").flat_select().collect()
    )
    assert len(expected) >= 8  # two tiled matches, loop engaged

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_grp"), n_chunks=4, order_col="pos"
    )
    stream_p = (
        Pattern.begin("s").where(lambda pdf: pdf["v"] == 0)
        .followed_by(
            Pattern.begin("m1").where(lambda pdf: pdf["v"] == 1)
            .followed_by("m2").where(lambda pdf: pdf["v"] == 2)
        ).one_or_more()
        .followed_by("e").where(lambda pdf: pdf["v"] == 3)
    )
    sdf = CEP.pattern(stream, stream_p, "k", "pos").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_grp_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


def test_times_or_more_itcase(spark):
    """TimesOrMoreITCase.testTimesOrMore: c a.timesOrMore(2)
    .allowCombinations() b — subsets of size >= 2 containing the forced
    first element."""
    d = _df(spark, [1, 2, 2, 2, 3])  # c a1 a2 a3 b
    p = (
        Pattern.begin("s").where("v = 1")
        .followed_by("m").where("v = 2").times_or_more(2).allow_combinations()
        .followed_by("e").where("v = 3")
    )
    assert _g_rows(d, p) == sorted([(0, 1, 2, 3, 4), (0, 1, 2, 4), (0, 1, 3, 4)])


def test_eager_zero_or_more_same_element_itcase(spark):
    """SameElementITCase.testEagerZeroOrMoreSameElement: repeated
    identical events through a relaxed zero-or-more — every PREFIX of
    the matching subsequence (dummies skipped), plus the empty branch."""
    # c a a a a X a a b  (all a's satisfy the loop; X is noise)
    d = _df(spark, [1, 2, 2, 2, 2, 9, 2, 2, 3])
    p = (
        Pattern.begin("s").where("v = 1")
        .followed_by("m").where("v = 2").one_or_more().optional()
        .followed_by("e").where("v = 3")
    )
    a_pos = [1, 2, 3, 4, 6, 7]
    assert _g_rows(d, p) == sorted(
        [tuple([0] + a_pos[:k] + [8]) for k in range(0, 7)]
    )


def test_after_match_skip_itcase_portable_rows(spark):
    """AfterMatchSkipITCase ports where the engine's SQL-standard
    to_first/to_last semantics coincide with Flink: testNoSkip /
    testSkipPastLast (a{3} sliding windows) and testSkipToFirst /
    testSkipToLast ((ab){2} next (ab){2} with the skip anchored on the
    'end' stage)."""
    d6 = _df(spark, [1] * 6)
    p3 = Pattern.begin("s").where("v = 1").times(3)
    assert _g_rows(d6, p3, after="no_skip") == sorted(
        [(0, 1, 2), (1, 2, 3), (2, 3, 4), (3, 4, 5)]
    )
    assert _g_rows(d6, p3, after="past_last_row") == sorted([(0, 1, 2), (3, 4, 5)])

    # ab{2} next ab{2}: every event matches both stages
    p22 = (
        Pattern.begin("s").where("v = 1").times(2)
        .next("e").where("v = 1").times(2)
    )
    assert _g_rows(d6, p22, after="to_first e") == sorted(
        [(0, 1, 2, 3), (2, 3, 4, 5)]
    )
    d7 = _df(spark, [1] * 7)
    assert _g_rows(d7, p22, after="to_last e") == sorted(
        [(0, 1, 2, 3), (3, 4, 5, 6)]
    )


def test_until_followed_by_any_itcase(spark):
    """UntilConditionITCase.testUntilConditionFollowedByAny{OneOrMore,
    ZeroOrMore}: the SKIP_TILL_ANY stage gap is NOT until-guarded (a
    branch that skips the stop event survives and may start at m3), but
    the loop's inner filler IS (no expansion may span the stop): input
    c m1(2) m2(3) STOP(5) m3(6) -> {c m1 m2},{c m1},{c m2},{c m3}
    (+ {c} for zeroOrMore)."""
    d = _ev_df(spark, [(0, 1), (1, 2), (1, 3), (1, 5), (1, 6)])

    def build(optional):
        p = (
            Pattern.begin("s").where("nm = 0")
            .followed_by_any("m").where("nm = 1").one_or_more()
        )
        if optional:
            p = p.optional()
        return p.until("pr = 5")

    assert _g_rows(d, build(False)) == sorted([(0, 1, 2), (0, 1), (0, 2), (0, 4)])
    assert _g_rows(d, build(True)) == sorted(
        [(0, 1, 2), (0, 1), (0, 2), (0, 4), (0,)]
    )


# ------------------------------------ streaming until()/NOT-fold recipes


def _stream_vs_batch(spark, tmp_dir, values, batch_p, stream_p, name, after="past_last_row"):
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    df = _df(spark, values)
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, batch_p, "k", "pos", after_match=after)
        .flat_select()
        .collect()
    )
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, name), n_chunks=3, order_col="pos"
    )
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark,
            CEP.pattern(stream, stream_p, "k", "pos", after_match=after).flat_select(),
            f"{name}_out",
            tmp_dir,
            mode="append",
        ).collect()
    )
    assert got == expected, (got, expected)
    return expected


def test_streaming_until_equals_batch(spark, tmp_dir):
    """until() with a pandas predicate on the streaming route == the
    Catalyst until() on batch (round-9: the streaming negation recipes —
    until used to raise NotImplementedError on streams)."""
    values = [1, 1, 9, 8, 1, 1, 3, 5, 5]
    batch_p = (
        Pattern.begin("a").where("v = 1").one_or_more().until("v = 8")
        .followed_by("e").where("v = 3")
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .one_or_more().until(lambda pdf: pdf["v"] == 8)
        .followed_by("e").where(lambda pdf: pdf["v"] == 3)
    )
    expected = _stream_vs_batch(
        spark, tmp_dir, values, batch_p, stream_p, "s_until"
    )
    assert expected, "fixture must produce matches"


def test_streaming_not_followed_by_equals_batch(spark, tmp_dir):
    """notFollowedBy between stages (negated gap) with pandas
    predicates: streaming == batch."""
    values = [1, 9, 3, 1, 2, 3, 5, 5]
    batch_p = (
        Pattern.begin("a").where("v = 1")
        .not_followed_by("n").where("v = 2")
        .followed_by("e").where("v = 3")
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .not_followed_by("n").where(lambda pdf: pdf["v"] == 2)
        .followed_by("e").where(lambda pdf: pdf["v"] == 3)
    )
    expected = _stream_vs_batch(
        spark, tmp_dir, values, batch_p, stream_p, "s_nfb"
    )
    # first a(0) reaches e(2) over the 9; second a(3) is blocked by the 2
    assert expected == [(0, "a"), (2, "e")], expected


def test_streaming_not_next_strict_equals_batch(spark, tmp_dir):
    """not_next before a strict successor (fold_not) with pandas
    predicates: streaming == batch."""
    values = [1, 2, 3, 1, 4, 3, 5, 5]
    batch_p = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 2")
        .next("e").where("v >= 3")
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .not_next("n").where(lambda pdf: pdf["v"] == 2)
        .next("e").where(lambda pdf: pdf["v"] >= 3)
    )
    expected = _stream_vs_batch(
        spark, tmp_dir, values, batch_p, stream_p, "s_nn"
    )
    # a(0) next is 2 -> blocked; a(3) next is 4 -> e
    assert expected == [(3, "a"), (4, "e")], expected


def test_streaming_group_until_equals_batch(spark, tmp_dir):
    """GroupPattern loop with until() on the streaming route (the group
    until folds into every inner pandas DEFINE + fillers)."""
    values = [0, 1, 2, 1, 2, 3, 5, 5]  # c (a b)+ until(d=3) d
    batch_p = (
        Pattern.begin("s").where("v = 0")
        .followed_by(
            Pattern.begin("m1").where("v = 1").followed_by("m2").where("v = 2")
        ).one_or_more().until("v = 3")
        .followed_by("e").where("v = 3")
    )
    stream_p = (
        Pattern.begin("s").where(lambda pdf: pdf["v"] == 0)
        .followed_by(
            Pattern.begin("m1").where(lambda pdf: pdf["v"] == 1)
            .followed_by("m2").where(lambda pdf: pdf["v"] == 2)
        ).one_or_more().until(lambda pdf: pdf["v"] == 3)
        .followed_by("e").where(lambda pdf: pdf["v"] == 3)
    )
    expected = _stream_vs_batch(
        spark, tmp_dir, values, batch_p, stream_p, "s_gu"
    )
    assert expected, "fixture must produce matches"


def test_streaming_until_without_pandas_form_is_loud(spark, tmp_dir):
    """A Catalyst-only until() on the streaming route raises with
    guidance (it cannot be evaluated over the buffered pandas frame)."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay

    df = _df(spark, [1, 1, 8, 3])
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "s_loud"), n_chunks=2, order_col="pos"
    )
    p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .one_or_more().until("v = 8")  # Catalyst-only stop condition
        .followed_by("e").where(lambda pdf: pdf["v"] == 3)
    )
    with pytest.raises(ValueError, match="no\\s+pandas form"):
        CEP.pattern(stream, p, "k", "pos").flat_select()


def test_batch_pandas_only_until_is_loud(spark):
    """A pandas-only until() on the batch route raises (no Catalyst
    negation to fold into the DEFINE)."""
    df = _df(spark, [1, 1, 8, 3])
    p = (
        Pattern.begin("a").where("v = 1")
        .one_or_more().until(lambda pdf: pdf["v"] == 8)
        .followed_by("e").where("v = 3")
    )
    with pytest.raises(ValueError, match="only pandas"):
        CEP.pattern(df, p, "k", "pos").flat_select()


# --------------------------------------- not_next before a group pattern


def test_not_next_before_strict_group(spark):
    """not_next folded onto a strict group's first consumed event (the
    event directly after the previous stage IS the group's first event,
    so the leaf fold is exact — Pattern.java notNext + GroupPattern)."""
    p = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 2")
        .next(Pattern.begin("b").where("v >= 2").followed_by("c").where("v = 3"))
    )
    blocked = _df(spark, [1, 2, 3])   # group head 2 satisfies the NOT
    allowed = _df(spark, [1, 4, 3])   # head 4 does not
    assert CEP.pattern(blocked, p, "k", "pos").flat_select().count() == 0
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(allowed, p, "k", "pos").flat_select().collect()
    )
    assert got == [(0, "a"), (1, "b"), (2, "c")], got


def test_not_next_before_group_streaming_equals_batch(spark, tmp_dir):
    values = [1, 2, 3, 1, 4, 3, 5, 5]
    batch_p = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 2")
        .next(Pattern.begin("b").where("v >= 2").followed_by("c").where("v = 3"))
    )
    stream_p = (
        Pattern.begin("a").where(lambda pdf: pdf["v"] == 1)
        .not_next("n").where(lambda pdf: pdf["v"] == 2)
        .next(
            Pattern.begin("b").where(lambda pdf: pdf["v"] >= 2)
            .followed_by("c").where(lambda pdf: pdf["v"] == 3)
        )
    )
    expected = _stream_vs_batch(
        spark, tmp_dir, values, batch_p, stream_p, "s_nng"
    )
    # only the second island survives the NOT
    assert expected == [(3, "a"), (4, "b"), (5, "c")], expected


def test_not_next_before_group_guards(spark):
    df = _df(spark, [1, 2, 3])
    quantified = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 2")
        .next(Pattern.begin("b").where("v >= 2").followed_by("c").where("v = 3"))
        .one_or_more()
    )
    with pytest.raises(NotImplementedError, match="quantified/optional group|looping"):
        CEP.pattern(df, quantified, "k", "pos").flat_select()
    head_quantified = (
        Pattern.begin("a").where("v = 1")
        .not_next("n").where("v = 2")
        .next(
            Pattern.begin("b").where("v >= 2").times(2)
            .followed_by("c").where("v = 3")
        )
    )
    with pytest.raises(NotImplementedError, match="first stage"):
        CEP.pattern(df, head_quantified, "k", "pos").flat_select()


def test_group_terminal_not_streaming_equals_batch(spark, tmp_dir):
    """Round 10: GROUP patterns ending in notFollowedBy + within run on
    streams too (the round-9 guard is gone). Dual-form conditions (one
    Column + one pandas callable per stage) let the SAME chain compile
    for both routes; trailing rows close every horizon."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    names = ["a", "b", "c", "a", "b", "x", "a", "b", "c", "c", "c", "c"]
    rows = [(1, i + 1, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "k int, ts int, name string")

    def npd(name):
        return lambda pdf, n=name: pdf["name"] == n

    def dual(p, name):
        return p.where(F.col("name") == name).where(npd(name))

    def build():
        grp = dual(dual(Pattern.begin("g1"), "a").next("g2"), "b")
        p = Pattern.begin(grp).not_followed_by("nf")
        return dual(p, "x").within(4)

    batch = sorted(
        (r.ts, r.matched_symbol)
        for r in CEP.pattern(df, build(), "k", "ts", after_match="no_skip")
        .flat_select().collect()
    )
    # (a1,b2): x6 beyond horizon 5 -> survives; (a4,b5): x6 in (5,9) ->
    # killed; (a7,b8): no x before horizon 11 -> survives
    assert batch == [(1, "g1"), (2, "g2"), (7, "g1"), (8, "g2")]

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_gtn"), n_chunks=4, order_col="ts"
    )
    got = sorted(
        (r.ts, r.matched_symbol)
        for r in run_to_memory(
            spark,
            CEP.pattern(stream, build(), "k", "ts", after_match="no_skip").flat_select(),
            "cep_gtn_out", tmp_dir, mode="append",
        ).collect()
    )
    assert got == batch


def test_quantified_group_until_terminal_not_streaming(spark, tmp_dir):
    """Round 10: a QUANTIFIED group with a dual-form until() stop
    condition chained into terminal notFollowedBy + within — stream ==
    batch. Also pins the dual-until rule: one condition per dialect,
    same-dialect twice raises (Flink: only one until)."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    names = ["a", "b", "c", "a", "b", "x", "a", "b"] + ["c"] * 6
    rows = [(1, i + 1, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "k int, ts int, name string")

    def npd(name):
        return lambda pdf, n=name: pdf["name"] == n

    def dual(p, name):
        return p.where(F.col("name") == name).where(npd(name))

    def build():
        grp = dual(dual(Pattern.begin("h1"), "a").followed_by("h2"), "b")
        p = (
            Pattern.begin(grp).one_or_more()
            .until(F.col("name") == "x").until(npd("x"))
            .not_followed_by("nf")
        )
        return dual(p, "x").within(6)

    batch = sorted(
        (r.ts, r.matched_symbol)
        for r in CEP.pattern(df, build(), "k", "ts", after_match="no_skip")
        .flat_select().collect()
    )
    # until(x) stops collection at x6; every pre-x match is killed by
    # x6 inside its horizon; only (a7,b8) survives
    assert batch == [(7, "h1"), (8, "h2")]

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_qgtn"), n_chunks=4, order_col="ts"
    )
    got = sorted(
        (r.ts, r.matched_symbol)
        for r in run_to_memory(
            spark,
            CEP.pattern(stream, build(), "k", "ts", after_match="no_skip").flat_select(),
            "cep_qgtn_out", tmp_dir, mode="append",
        ).collect()
    )
    assert got == batch

    with pytest.raises(ValueError, match="only one until"):
        (Pattern.begin("a").where("name = 'a'").one_or_more()
         .until("name = 'x'").until(F.col("name") == "y"))
    with pytest.raises(ValueError, match="only one until"):
        (Pattern.begin("a").where("name = 'a'").one_or_more()
         .until(npd("x")).until(npd("y")))


def test_fluid_group_match_streaming_equals_batch(spark, tmp_dir):
    """Optional-tail group loop MATCHING on streams == batch (the
    two-path link filter runs in the incremental matcher too): the
    f7 fixture where {a,b1,b3,d} must NOT match — after the tail
    force-take (c1) and the boundary force-take (b2) no {a,b1}
    carrier survives to b3 — while every pure-path set does."""
    import collections
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "b"), (1, 4, "c"),
            (1, 5, "b"), (1, 6, "d"), (1, 60, "x")]
    df = spark.createDataFrame(rows, "k int, pos int, name string")

    def build(cols):
        grp = (
            Pattern.begin("B").where(cols("b"))
            .followed_by("C").where(cols("c")).optional()
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(50)
        )

    def msets(out_rows):
        m = collections.defaultdict(set)
        for r in out_rows:
            m[r.match_id].add(r.pos)
        return sorted(sorted(v) for v in m.values())

    batch_p = build(lambda n: F.col("name") == n)
    expected = msets(
        CEP.pattern(df, batch_p, "k", "pos", after_match="no_skip")
        .flat_select().collect()
    )
    assert [1, 2, 5, 6] not in expected
    assert [1, 2, 6] in expected and len(expected) == 7

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_fluid_m"), n_chunks=3,
        order_col="pos",
    )
    stream_p = build(lambda n: (lambda pdf, _n=n: pdf["name"] == _n))
    sdf = CEP.pattern(
        stream, stream_p, "k", "pos", after_match="no_skip"
    ).flat_select()
    got = msets(
        run_to_memory(
            spark, sdf, "cep_fluid_m_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


def test_group_optable_head_later_starts(spark):
    """Round-13 match-surface fix: a followed_by GROUP whose first
    positive leaf is OPTIONAL waits at that leaf's state, whose ignore
    edge is NOT(head take) only (NFACompiler getIgnoreCondition) — an
    event take-able by a later inner leaf forks an in-group copy but
    never consumes the waiter, so later-start branches survive. The
    pre-fix reluctant gap committed to the earliest start and lost
    them."""
    def n(x):
        return F.col("name") == x

    def match_sets(rows, p):
        df = spark.createDataFrame(rows, "k int, ts int, name string")
        out = CEP.pattern(df, p, "k", "ts", after_match="no_skip").flat_select()
        per = {}
        for r in out.collect():
            per.setdefault(r.match_id, set()).add(r.ts)
        return sorted(sorted(v) for v in per.values())

    def grp():
        return (
            Pattern.begin("B").where(n("b")).optional()
            .followed_by("C").where(n("c"))
        )

    loop = (
        Pattern.begin("A").where(n("a"))
        .followed_by(grp()).one_or_more()
        .followed_by("D").where(n("d"))
    )
    flat = (
        Pattern.begin("A").where(n("a"))
        .followed_by(grp())
        .followed_by("D").where(n("d"))
    )
    accd = [(1, 1, "a"), (1, 2, "c"), (1, 3, "c"), (1, 4, "d")]
    # hand-traced NFA: the B?-waiter ignores c@2 (NOT-b), so iteration
    # one may start at c@3; the parked C-copy force-takes the first c
    assert match_sets(accd, loop) == [[1, 2, 3, 4], [1, 2, 4], [1, 3, 4]]
    assert match_sets(accd, flat) == [[1, 2, 4], [1, 3, 4]]
    # a b-take-able event CONSUMES the waiter (forced take), while the
    # pre-spawned C-copy (B absent) force-takes the first c after it
    abcxcd = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "x"),
              (1, 5, "c"), (1, 6, "d")]
    assert match_sets(abcxcd, loop) == [
        [1, 2, 3, 5, 6], [1, 2, 3, 6], [1, 3, 5, 6], [1, 3, 6],
    ]


# -------------------------------------- greedy loops inside group loops


def test_greedy_inner_loop_in_quantified_group(spark):
    """Round-14 bug class: a greedy inner loop inside a times(>=2)
    group used to keep the possessive compile, whose iteration-1 commit
    swallowed the next iteration's entry rows -> ZERO matches on
    trivially-matching fixtures. NFA ground truth (NFACompiler
    convertPattern re-applies updateWithGreedyCondition inside every
    iteration copy): the guard is per-iteration — a candidate dies iff
    a B-take-able event lies in (that iteration's last B take, its C
    take]. Hand-traced over b b c b c d:

    - {b0 b1 c2 | b3 c4 | d5}: both spans clean -> MATCH
    - {b1 c2 | b3 c4 | d5} (start b1): spans clean -> MATCH
    - {b0 c2 | ...}: b1 is B-able in (b0, c2] — the branch waited at
      the guarded C state through b1 -> KILLED (the non-greedy control
      keeps it: the C state's relaxed ignore skips b1)
    """
    b, c, d = 1, 2, 3

    def pat():
        g = (
            Pattern.begin("B").where(F.col("v") == b).one_or_more().greedy()
            .followed_by("C").where(F.col("v") == c)
        )
        return Pattern.begin(g).times(2).followed_by("D").where(F.col("v") == d)

    def pat_plain():
        g = (
            Pattern.begin("B").where(F.col("v") == b).one_or_more()
            .followed_by("C").where(F.col("v") == c)
        )
        return Pattern.begin(g).times(2).followed_by("D").where(F.col("v") == d)

    df = _df(spark, [b, b, c, b, c, d])
    got = _matches(CEP.pattern(df, pat(), "k", "pos", after_match="no_skip"))
    assert sorted(got) == [
        [(0, "B"), (1, "B"), (2, "C"), (3, "B"), (4, "C"), (5, "D")],
        [(1, "B"), (2, "C"), (3, "B"), (4, "C"), (5, "D")],
    ]
    # the discriminating control: non-greedy keeps the {b0 c2 ...} branch
    got_plain = _matches(CEP.pattern(df, pat_plain(), "k", "pos", after_match="no_skip"))
    assert len(got_plain) == 3
    assert [(0, "B"), (2, "C"), (3, "B"), (4, "C"), (5, "D")] in got_plain

    # single-b iterations: exactly one match (was zero pre-fix)
    df2 = _df(spark, [b, c, b, c, d])
    got2 = _matches(CEP.pattern(df2, pat(), "k", "pos", after_match="no_skip"))
    assert got2 == [[(0, "B"), (1, "C"), (2, "B"), (3, "C"), (4, "D")]]


def test_greedy_inner_loop_in_one_or_more_group(spark):
    """Same guard under an UNBOUNDED group loop. Hand-traced over
    b b c b c d: iterations may stop after one (the PROCEED copy past
    the loop waits at D with a relaxed NOT(d) ignore, so b3 c4 are
    skippable on the 1-iteration branches), and the inner B-loop's own
    relaxed ignore may skip c2 to span {b0 b1 b3} in ONE iteration.
    Greedy kills exactly {b0 c2 ...} (b1 B-able in the sink span) and
    {b0 b1 c4} is structurally absent (the C waiter cannot ignore the
    C-able c2)."""
    b, c, d = 1, 2, 3
    g = (
        Pattern.begin("B").where(F.col("v") == b).one_or_more().greedy()
        .followed_by("C").where(F.col("v") == c)
    )
    p = Pattern.begin(g).one_or_more().followed_by("D").where(F.col("v") == d)
    df = _df(spark, [b, b, c, b, c, d])
    got = _matches(CEP.pattern(df, p, "k", "pos", after_match="no_skip"))
    assert sorted(got) == [
        [(0, "B"), (1, "B"), (2, "C"), (3, "B"), (4, "C"), (5, "D")],
        [(0, "B"), (1, "B"), (2, "C"), (5, "D")],
        [(0, "B"), (1, "B"), (3, "B"), (4, "C"), (5, "D")],
        [(1, "B"), (2, "C"), (3, "B"), (4, "C"), (5, "D")],
        [(1, "B"), (2, "C"), (5, "D")],
        [(1, "B"), (3, "B"), (4, "C"), (5, "D")],
        [(3, "B"), (4, "C"), (5, "D")],
    ]


def test_greedy_inner_loop_untraced_shapes_raise(spark):
    """Iteration-tail greedy (the sink is the iteration-boundary state)
    and zero-able greedy inner loops raise loudly instead of the
    silently-wrong possessive compile they previously fell into."""
    b, c, d = 1, 2, 3
    df = _df(spark, [c, b, c, b, d])
    tail = (
        Pattern.begin("C").where(F.col("v") == c)
        .followed_by("B").where(F.col("v") == b).one_or_more().greedy()
    )
    p_tail = Pattern.begin(tail).times(2).followed_by("D").where(F.col("v") == d)
    with pytest.raises(NotImplementedError, match="iteration tail"):
        CEP.pattern(df, p_tail, "k", "pos", after_match="no_skip").flat_select()

    zero = (
        Pattern.begin("B").where(F.col("v") == b)
        .one_or_more().optional().greedy()
        .followed_by("C").where(F.col("v") == c)
    )
    p_zero = Pattern.begin(zero).times(2).followed_by("D").where(F.col("v") == d)
    with pytest.raises(NotImplementedError, match="zero-able greedy"):
        CEP.pattern(df, p_zero, "k", "pos", after_match="no_skip").flat_select()


def test_terminal_greedy_inside_trailing_unquantified_group(spark):
    """A pattern-terminal greedy loop reached through a trailing
    UNQUANTIFIED group is a no-op (the final state has no transitions
    to guard — GreedyITCase testEndWithZeroOrMoreGreedy), identical to
    the flat terminal-greedy compile."""
    a, b, c = 4, 1, 2
    df = _df(spark, [a, c, b, b])
    g = (
        Pattern.begin("C").where(F.col("v") == c)
        .followed_by("B").where(F.col("v") == b).one_or_more().greedy()
    )
    p_group = Pattern.begin("A").where(F.col("v") == a).followed_by(g)
    p_flat = (
        Pattern.begin("A").where(F.col("v") == a)
        .followed_by("C").where(F.col("v") == c)
        .followed_by("B").where(F.col("v") == b).one_or_more().greedy()
    )
    got_g = sorted(_matches(CEP.pattern(df, p_group, "k", "pos", after_match="no_skip")))
    got_f = sorted(_matches(CEP.pattern(df, p_flat, "k", "pos", after_match="no_skip")))
    assert got_g == got_f
    # {a c b2}, {a c b2 b3} — NOT {a c b3}: the mid-pattern B+ waiter
    # cannot ignore the B-able b2 (relaxed ignore is NOT(take))
    assert len(got_g) == 2


def test_greedy_inner_group_loop_streaming_equals_batch(spark, tmp_dir):
    """The per-run sink guard runs on the streaming route too (shared
    _greedy_ok over the enumerated candidates). The pattern carries a
    within() bound: the enumerable greedy loop probes past the last
    buffered row, so without a horizon the start would stay PENDING by
    the streaming emission rule (a match is emitted once a later row
    proves its window closed) — the far-future sentinel row closes
    every real start's horizon."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    b, c, d = 1, 2, 3
    values = [b, b, c, b, c, d, b, c, b, b, c, d]
    rows = [(1, i, v) for i, v in enumerate(values)] + [(1, 1000, 9)]
    df = spark.createDataFrame(rows, "k int, pos int, v int")
    g_b = (
        Pattern.begin("B").where(F.col("v") == b).one_or_more().greedy()
        .followed_by("C").where(F.col("v") == c)
    )
    p_b = (
        Pattern.begin(g_b).times(2)
        .followed_by("D").where(F.col("v") == d).within(50)
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, p_b, "k", "pos", after_match="no_skip").flat_select().collect()
    )
    assert len(expected) >= 10  # non-degenerate

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_ggrp"), n_chunks=4, order_col="pos"
    )
    g_s = (
        Pattern.begin("B").where(lambda pdf: pdf["v"] == b).one_or_more().greedy()
        .followed_by("C").where(lambda pdf: pdf["v"] == c)
    )
    p_s = (
        Pattern.begin(g_s).times(2)
        .followed_by("D").where(lambda pdf: pdf["v"] == d).within(50)
    )
    sdf = CEP.pattern(stream, p_s, "k", "pos", after_match="no_skip").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_ggrp_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected


# ---------------- followed_by gap guard (dead-end slide, round 14)


def test_followed_by_gap_cannot_slide_past_takeable_dead_end(spark):
    """Round-14 bug class: the reluctant stage-gap filler carried an
    unguarded TRUE define, relying on first-completion commit — equal
    to Flink's forced take EXCEPT when the take's continuation
    dead-ends: over s a n a c with S fb A ~N fb C, the NFA's S-waiter
    takes a@2 (its ignore is NOT(take), getIgnoreCondition
    SKIP_TILL_NEXT) and dies at n@3 — a@4 is unreachable, NO match.
    The unguarded filler slid past a@2 and wrongly matched
    {s,a4,c5}. The filler now carries NOT(first condition)."""
    s, a, nn, c = 1, 2, 3, 4
    p = (
        Pattern.begin("S").where(F.col("v") == s)
        .followed_by("A").where(F.col("v") == a)
        .not_followed_by("N").where(F.col("v") == nn)
        .followed_by("C").where(F.col("v") == c)
    )
    df = _df(spark, [s, a, nn, a, c])
    assert _matches(CEP.pattern(df, p, "k", "pos", after_match="no_skip")) == []
    # control: without the N event the forced take completes
    df2 = _df(spark, [s, a, 9, a, c])
    got = _matches(CEP.pattern(df2, p, "k", "pos", after_match="no_skip"))
    assert got == [[(0, "S"), (1, "A"), (4, "C")]]
    # single-match route agrees (same guarded filler)
    assert _matches(CEP.pattern(df, p, "k", "pos")) == []


def test_followed_by_gap_guard_streaming_equals_batch(spark, tmp_dir):
    """The guarded filler's streaming recipe ('not_cond' lgap form):
    dead-end slides are dead on both routes."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.source import chunked_replay

    s, a, nn, c = 1, 2, 3, 4
    rows = [(1, i, v) for i, v in enumerate([s, a, nn, a, c, s, a, 9, c])]
    rows.append((1, 1000, 99))
    df = spark.createDataFrame(rows, "k int, pos int, v int")
    p_b = (
        Pattern.begin("S").where(F.col("v") == s)
        .followed_by("A").where(F.col("v") == a)
        .not_followed_by("N").where(F.col("v") == nn)
        .followed_by("C").where(F.col("v") == c).within(50)
    )
    expected = sorted(
        (r["pos"], r["matched_symbol"])
        for r in CEP.pattern(df, p_b, "k", "pos", after_match="no_skip")
        .flat_select().collect()
    )
    assert expected == [(5, "S"), (6, "A"), (8, "C")]  # only the clean start

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "cep_gslide"), n_chunks=3,
        order_col="pos",
    )
    p_s = (
        Pattern.begin("S").where(lambda pdf: pdf["v"] == s)
        .followed_by("A").where(lambda pdf: pdf["v"] == a)
        .not_followed_by("N").where(lambda pdf: pdf["v"] == nn)
        .followed_by("C").where(lambda pdf: pdf["v"] == c).within(50)
    )
    sdf = CEP.pattern(stream, p_s, "k", "pos", after_match="no_skip").flat_select()
    got = sorted(
        (r["pos"], r["matched_symbol"])
        for r in run_to_memory(
            spark, sdf, "cep_gslide_out", tmp_dir, mode="append"
        ).collect()
    )
    assert got == expected
