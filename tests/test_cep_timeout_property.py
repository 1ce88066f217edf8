"""Randomized consolidation grid for the CEP timeout side output:
batch == streaming over seeded random fixtures across the round-11/12
shape grid (plain prefixes, loops, greedy, until, NOT folds, group
loops, skip strategies, terminal notFollowedBy).

Hand-traced matrices in test_cep_nfa_itcase.py pin the semantics cell
by cell; this file cross-checks the two ROUTES against each other on
denser random event soups, where branch interactions (migrated copies,
kill scans, emission-replay pruning) compose in ways the matrices
don't enumerate. Both routes run the same per-key decision core, so
the check is an incremental (chunked streaming replay, keyed state
across micro-batches) against a one-shot (bounded) run of it, with
conditions evaluated as pandas predicates on one side and Catalyst
flag columns on the other. Seeded random (not hypothesis): each case
spins a real streaming query, so the grid is fixed and deterministic.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from reshape_on_flink_spark.api.cep import CEP, Pattern

NAMES = ["a", "b", "c", "d", "n", "u", "x"]


def _fixture(seed: int, n_keys: int = 3, n_rows: int = 28):
    rng = random.Random(seed)
    rows = []
    for k in range(1, n_keys + 1):
        t = 0
        for _ in range(n_rows):
            t += rng.randint(1, 4)
            rows.append((k, t, rng.choice(NAMES)))
        rows.append((k, t + 40, "w"))  # witness row past every horizon
    return rows


def _c(name):
    return F.col("name") == name


def _p(name):
    return lambda pdf, _n=name: pdf["name"] == _n


def _pattern(kind: str, cols):
    """Build one pattern in both condition dialects: cols = _c (batch
    Catalyst) or _p (pandas, required by the streaming route)."""
    if kind == "plain":
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by("B").where(cols("b"))
            .followed_by("C").where(cols("c")).within(12)
        )
    if kind == "loop_until":
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by("B").where(cols("b")).one_or_more()
            .until(cols("u"))
            .followed_by("C").where(cols("c")).within(12)
        )
    if kind == "greedy_interior":
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by("B").where(cols("b")).one_or_more().greedy()
            .followed_by("C").where(cols("c"))
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "greedy_comb":
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by("B").where(cols("b")).times(2, 3)
            .allow_combinations().greedy()
            .followed_by("C").where(cols("c"))
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "not_fold":
        return (
            Pattern.begin("A").where(cols("a"))
            .not_followed_by("N").where(cols("n"))
            .followed_by("B").where(cols("b"))
            .followed_by("C").where(cols("c")).within(12)
        )
    if kind == "group_loop":
        grp = (
            Pattern.begin("B").where(cols("b"))
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).times(2)
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_until":
        grp = (
            Pattern.begin("B").where(cols("b"))
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more().until(cols("u"))
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_opt":
        grp = (
            Pattern.begin("B").where(cols("b"))
            .followed_by("C").where(cols("c")).optional()
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_inner_loop":
        grp = (
            Pattern.begin("B").where(cols("b")).one_or_more()
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_tail_loop":
        grp = (
            Pattern.begin("C").where(cols("c"))
            .followed_by("B").where(cols("b")).one_or_more()
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).times(2)
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_opt_entry":
        grp = (
            Pattern.begin("B").where(cols("b")).optional()
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "terminal_not":
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by("B").where(cols("b"))
            .not_followed_by("N").where(cols("n")).within(12)
        )
    if kind == "group_bounded_loop":
        grp = (
            Pattern.begin("B").where(cols("b")).times(2, 3)
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_bounded_tail":
        grp = (
            Pattern.begin("B").where(cols("b"))
            .followed_by("C").where(cols("c")).times(1, 2)
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_min2_loop":
        grp = (
            Pattern.begin("B").where(cols("b")).times_or_more(2)
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_loop_opt_tail":
        # no plain mandatory inner leaf (round 14): the iteration both
        # continues and completes on each loop take — exercises the
        # set-level cross-plan collapse on both routes
        grp = (
            Pattern.begin("B").where(cols("b")).one_or_more()
            .followed_by("C").where(cols("c")).optional()
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_until_loop":
        # until() on an INNER loop (round 14, late): stop edges on the
        # loop's own states — waits at/inside it die, sink copies cross
        grp = (
            Pattern.begin("B").where(cols("b")).one_or_more()
            .until(cols("u"))
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_interior_not":
        # interior notFollowedBy inside a group loop (round 14, late):
        # the NOT gap guards the carrier-leaf waits in every iteration
        grp = (
            Pattern.begin("B").where(cols("b"))
            .not_followed_by("N").where(cols("n"))
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    if kind == "group_greedy_loop":
        grp = (
            Pattern.begin("B").where(cols("b")).one_or_more().greedy()
            .followed_by("C").where(cols("c"))
        )
        return (
            Pattern.begin("A").where(cols("a"))
            .followed_by(grp).one_or_more()
            .followed_by("D").where(cols("d")).within(12)
        )
    raise AssertionError(kind)


GRID = [
    ("plain", "no_skip", 11),
    ("plain", "past_last_row", 12),
    ("plain", "to_first B", 13),
    ("loop_until", "no_skip", 21),
    ("loop_until", "past_last_row", 22),
    ("greedy_interior", "no_skip", 31),
    # greedy + allow_combinations (round 13): fluid subset expansions
    # through the guarded sink, on both routes and under a skip
    ("greedy_comb", "no_skip", 32),
    ("greedy_comb", "past_last_row", 33),
    ("not_fold", "no_skip", 41),
    ("not_fold", "to_next_row", 42),
    ("group_loop", "no_skip", 51),
    ("group_until", "no_skip", 52),
    ("terminal_not", "no_skip", 61),
    ("terminal_not", "past_last_row", 62),
    # fluid iteration links (optional-tail group loop): the two-path
    # filter on both routes, incl. the streaming skip cursor
    ("group_opt", "no_skip", 71),
    ("group_opt", "past_last_row", 72),
    # optional ENTRY leaf (round 13): optable-head chain copies +
    # mandatory-leaf iteration counting, on both routes and under skip
    ("group_opt_entry", "no_skip", 73),
    ("group_opt_entry", "past_last_row", 74),
    # unbounded INNER loops in group loops (round 13): Gq mid-loop
    # plans, tail-loop between-subsumption, mandatory-leaf counting
    ("group_inner_loop", "no_skip", 75),
    ("group_inner_loop", "past_last_row", 76),
    ("group_tail_loop", "no_skip", 77),
    # BOUNDED nested quantifiers in group loops (round 14): the dual
    # runtime counters (iteration gate + current-iteration loop-take
    # gate), exit-by-max pinned parks, bounded tails via wA/wB
    ("group_bounded_loop", "no_skip", 81),
    ("group_bounded_loop", "past_last_row", 82),
    ("group_bounded_tail", "no_skip", 83),
    ("group_min2_loop", "no_skip", 84),
    # GREEDY inner loops in group loops (round 14, late): per-run sink
    # guard on the prefix enumerations + the sink copy's gap kill
    ("group_greedy_loop", "no_skip", 91),
    ("group_greedy_loop", "past_last_row", 92),
    # all-loop-mandatory group loops (round 14, late): no iteration
    # gate needed; same-set computations collapse across plans
    ("group_loop_opt_tail", "no_skip", 93),
    ("group_loop_opt_tail", "past_last_row", 94),
    # until() on inner loops in group loops (round 14, late)
    ("group_until_loop", "no_skip", 95),
    ("group_until_loop", "past_last_row", 96),
    # interior notFollowedBy in group loops (round 14, late)
    ("group_interior_not", "no_skip", 97),
    ("group_interior_not", "past_last_row", 98),
]


def _batch_touts(spark, rows, pat, after):
    df = spark.createDataFrame(rows, "k int, ts int, name string")
    out = CEP.pattern(df, pat, "k", "ts", after_match=after)
    per = {}
    for r in out.timed_out_partial_matches().collect():
        key = (r.k, r.timeout_id)
        per.setdefault(key, [r.k, set(), None])
        per[key][1].add(r.ts)
        per[key][2] = r.timeout_ts
    got = {(v[0], frozenset(v[1]), v[2]) for v in per.values()}
    # partial identity = the event SET (NFAITCase compares sets): two
    # plan shapes must never emit the same set twice (cross-plan
    # duplicate invariant, round 13)
    assert len(per) == len(got), (
        f"duplicate timed-out partials: {len(per)} ids, {len(got)} sets"
    )
    return got


def _stream_touts(spark, tmp_dir, rows, pat, after, sub):
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    df = spark.createDataFrame(rows, "k int, ts int, name string")
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, f"prop_{sub}"), n_chunks=4,
        order_col="ts",
    )
    sdf = CEP.pattern(
        stream, pat, "k", "ts", after_match=after
    ).timed_out_partial_matches()
    got = run_to_memory(
        spark, sdf, f"prop_out_{sub}", tmp_dir, mode="append"
    ).collect()
    per = {}
    for r in got:
        key = (r.k, r.timeout_id)
        per.setdefault(key, [r.k, set(), None])
        per[key][1].add(r.ts)
        per[key][2] = r.timeout_ts
    return {(v[0], frozenset(v[1]), v[2]) for v in per.values()}


@pytest.mark.parametrize("kind,after,seed", GRID)
def test_timeout_stream_equals_batch_random(spark, tmp_dir, kind, after, seed):
    rows = _fixture(seed)
    got_b = _batch_touts(spark, rows, _pattern(kind, _c), after)
    got_s = _stream_touts(
        spark, tmp_dir, rows, _pattern(kind, _p), after,
        f"{kind}_{after.split()[0]}_{seed}",
    )
    assert got_s == got_b, (kind, after, seed)


def test_timeout_skip_subset_of_no_skip_random(spark):
    """On any fixture, a skip strategy only ever REMOVES partials from
    the no_skip timeout set (pruning discards, never creates)."""
    for kind in ("plain", "loop_until", "terminal_not"):
        for seed in (7, 8):
            rows = _fixture(seed)
            base = _batch_touts(spark, rows, _pattern(kind, _c), "no_skip")
            pruned = _batch_touts(
                spark, rows, _pattern(kind, _c), "past_last_row"
            )
            assert pruned <= base, (kind, seed)
