"""Flink-SQL dialect facade (api.table_env): reference-style SQL runs on
Spark and matches the equivalent native computation.

Reference surface: TableEnvironmentImpl.executeSql (Flink SQL dialect),
window TVFs (SliceAssigners.java), legacy group windows
(WindowOperator.java:96), FlinkSqlOperatorTable functions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reshape_on_flink_spark.api.table_env import TableEnvironment
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tenv(spark, tables):
    t = TableEnvironment.create(spark)
    for name, df in tables.items():
        t.create_temporary_view(name, df)
    return t


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_translate_tumble_tvf(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT window_start, window_end, COUNT(*) AS n, SUM(value) AS total
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
        """
    )
    expected = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "total",
        )
    )
    assert rows(got) == rows(expected)


def test_translate_hop_tvf_named_args(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT window_start, COUNT(*) AS n
        FROM TABLE(HOP(DATA => TABLE events, TIMECOL => DESCRIPTOR(ts),
                       SLIDE => INTERVAL '30' MINUTE, SIZE => INTERVAL '1' HOUR))
        GROUP BY window_start
        """
    )
    expected = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour", "30 minute"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    assert rows(got) == rows(expected)


def test_translate_cumulate_tvf(tenv, tables):
    from reshape_on_flink_spark.operators.windows import cumulate

    got = tenv.execute_sql(
        """
        SELECT window_start, window_end, COUNT(*) AS n
        FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts),
                            INTERVAL '15' MINUTE, INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
        """
    )
    expected = (
        cumulate(tables["events"], "ts", max_size="1 hour", step="15 minutes")
        .groupBy(
            F.timestamp_seconds("window_start").alias("window_start"),
            F.timestamp_seconds("window_end").alias("window_end"),
        )
        .agg(F.count("*").alias("n"))
    )
    assert rows(got) == rows(expected)


def test_translate_legacy_group_window(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
               TUMBLE_END(ts, INTERVAL '1' HOUR) AS we,
               COUNT(*) AS n
        FROM events GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)
        """
    )
    expected = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), F.col("window.end").alias("we"), "n")
    )
    assert rows(got) == rows(expected)


def test_translate_legacy_session_window(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT SESSION_START(ts, INTERVAL '30' MINUTE) AS ws, COUNT(*) AS n
        FROM events GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
        """
    )
    expected = (
        tables["events"]
        .groupBy(F.session_window("ts", "30 minute"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("session_window.start").alias("ws"), "n")
    )
    assert rows(got) == rows(expected)


def test_function_dialect_shims(tenv):
    got = tenv.execute_sql(
        """
        SELECT SPLIT_INDEX('a,b,c', ',', 1) AS second_tok,
               CHAR_LENGTH('hello') AS len5,
               IS_DIGIT('123') AS d1,
               IS_DIGIT('12a') AS d0,
               IS_ALPHA('abc') AS a1,
               TO_BASE64(ENCODE('hi', 'UTF-8')) AS b64,
               FROM_BASE64('aGk=') AS raw
        """
    ).collect()[0]
    assert got["second_tok"] == "b"
    assert got["len5"] == 5
    assert got["d1"] is True and got["d0"] is False and got["a1"] is True
    assert got["b64"] == "aGk="
    assert bytes(got["raw"]) == b"hi"


def test_function_shims_nested_and_in_predicates(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT doc_id FROM documents
        WHERE IS_DIGIT(SPLIT_INDEX('x 7', ' ', 1)) AND doc_id < 3
        ORDER BY doc_id
        """
    )
    assert [r["doc_id"] for r in got.collect()] == [0, 1, 2]


def test_strings_survive_masking(tenv):
    # a literal containing function-like and interval-like text must pass
    # through untouched
    got = tenv.execute_sql(
        "SELECT 'TUMBLE(ts, INTERVAL ''1'' HOUR) IS_DIGIT(x)' AS s"
    ).collect()[0]
    assert got["s"] == "TUMBLE(ts, INTERVAL '1' HOUR) IS_DIGIT(x)"


def test_ddl_filesystem_connector(tenv, spark, tmp_dir):
    df = spark.range(5).select(F.col("id").alias("v"))
    df.write.mode("overwrite").parquet(f"{tmp_dir}/t")
    tenv.execute_sql("DROP TABLE IF EXISTS flink_ddl_t")
    tenv.execute_sql(
        f"""
        CREATE TABLE flink_ddl_t (
          v BIGINT,
          PRIMARY KEY (v) NOT ENFORCED
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_dir}/t', 'format' = 'parquet')
        """
    )
    try:
        assert rows(tenv.from_path("flink_ddl_t")) == [(i,) for i in range(5)]
    finally:
        tenv.execute_sql("DROP TABLE IF EXISTS flink_ddl_t")


def test_unsupported_constructs_are_loud(tenv):
    with pytest.raises(NotImplementedError, match="CLASSIFIER"):
        tenv.execute_sql(
            "SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts"
            " MEASURES CLASSIFIER() AS c ONE ROW PER MATCH PATTERN (A) DEFINE A AS TRUE)"
        )
    with pytest.raises(NotImplementedError, match="SKIP"):
        tenv.execute_sql(
            "SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts"
            " MEASURES COUNT(A.*) AS n AFTER MATCH SKIP TO SOMEWHERE ELSE"
            " PATTERN (A) DEFINE A AS TRUE)"
        )


def test_match_recognize_sql_all_rows_per_match(tenv, spark):
    """ALL ROWS PER MATCH emits every matched row with CLASSIFIER(),
    MATCH_NUMBER(), RUNNING-default aggregates, and FINAL(...) frames."""
    spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([5, 3, 4, 9, 2, 6])],
        "k int, pos int, v double",
    ).createOrReplaceTempView("mr_all_src")
    got = tenv.execute_sql(
        """
        SELECT pos, sym, mno, run_cnt, total_cnt
        FROM mr_all_src MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY pos
          MEASURES CLASSIFIER() AS sym,
                   MATCH_NUMBER() AS mno,
                   COUNT(*) AS run_cnt,
                   FINAL(COUNT(*)) AS total_cnt
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.v < PREV(DOWN.v),
                 UP AS UP.v > PREV(UP.v)
        ) ORDER BY pos
        """
    ).collect()
    # match 1: pos 1 (down) + greedy up run pos 2-3; match 2: pos 4-5
    assert [tuple(r) for r in got] == [
        (1, "DOWN", 1, 1, 3),
        (2, "UP", 1, 2, 3),
        (3, "UP", 1, 3, 3),
        (4, "DOWN", 2, 1, 2),
        (5, "UP", 2, 2, 2),
    ]


def test_match_recognize_sql_order_by_desc(tenv, spark):
    """ORDER BY ... DESC (batch): the NFA scans the directed order.
    Oracle: DESC on pos must equal ASC on a negated copy of pos —
    same engine, mechanically different path (row_number scan key)."""
    spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([5, 3, 4, 9, 2, 6])],
        "k int, pos int, v double",
    ).createOrReplaceTempView("mr_desc_src")
    spark.sql(
        "SELECT k, pos, -pos AS neg_pos, v FROM mr_desc_src"
    ).createOrReplaceTempView("mr_desc_neg")

    def run(src, order):
        df = tenv.execute_sql(f"""
            SELECT pos, sym, mno FROM {src} MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY {order}
              MEASURES CLASSIFIER() AS sym, MATCH_NUMBER() AS mno
              ALL ROWS PER MATCH
              PATTERN (DOWN+ UP+)
              DEFINE DOWN AS DOWN.v < PREV(DOWN.v),
                     UP AS UP.v > PREV(UP.v)
            ) ORDER BY mno, pos
        """)
        assert "__mr_seq" not in df.columns  # scan key never leaks
        return [tuple(r) for r in df.collect()]

    got = run("mr_desc_src", "pos DESC")
    assert got == run("mr_desc_neg", "neg_pos ASC")
    # hand-check: scan [6,2,9,4,3,5] -> match1 = pos4 DOWN, pos3 UP;
    # match2 = pos2 DOWN, pos1 DOWN, pos0 UP
    assert got == [
        (3, "UP", 1), (4, "DOWN", 1),
        (0, "UP", 2), (1, "DOWN", 2), (2, "DOWN", 2),
    ]


def test_match_recognize_sql_subquery_source(tenv, spark):
    """FROM (subquery) MATCH_RECOGNIZE — the subquery runs through
    execute_sql and must equal the same query over a registered view."""
    spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([5, 3, 4, 9, 2, 6])],
        "k int, pos int, v double",
    ).createOrReplaceTempView("mr_subq_src")

    mr = """MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          PATTERN (A+)
          DEFINE A AS A.v > 3.5
        )"""
    sub = tenv.execute_sql(
        f"SELECT n_a FROM (SELECT k, pos, v FROM mr_subq_src WHERE pos <> 1) {mr} ORDER BY n_a"
    ).collect()
    spark.sql("SELECT k, pos, v FROM mr_subq_src WHERE pos <> 1").createOrReplaceTempView(
        "mr_subq_view"
    )
    named = tenv.execute_sql(
        f"SELECT n_a FROM mr_subq_view {mr} ORDER BY n_a"
    ).collect()
    assert [tuple(r) for r in sub] == [tuple(r) for r in named] != []


def test_match_recognize_sql_define_next_and_running(tenv, spark):
    """NEXT(S.col[, n]) in DEFINE (batch lookahead -> lead) and the
    RUNNING(...) unwrap; FINAL and match-scoped aggregates in DEFINE
    stay loud."""
    spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([5, 3, 4, 9, 2, 6])],
        "k int, pos int, v double",
    ).createOrReplaceTempView("mr_next_src")
    got = tenv.execute_sql(
        """
        SELECT n_a FROM mr_next_src MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          PATTERN (A+)
          DEFINE A AS RUNNING(A.v < NEXT(A.v))
        ) ORDER BY n_a
        """
    ).collect()
    # v < next(v): pos1, pos2 (run of 2) and pos4 (run of 1)
    assert [r["n_a"] for r in got] == [1, 2]
    # FINAL stays loud in DEFINE (SQL standard / MatchCodeGenerator)
    with pytest.raises(NotImplementedError, match="FINAL"):
        tenv.execute_sql(
            """
            SELECT * FROM mr_next_src MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY pos
              MEASURES COUNT(A.*) AS n ONE ROW PER MATCH
              PATTERN (A+) DEFINE A AS FINAL(A.v) > 0
            )
            """
        )
    # match-scoped aggregates/navigation in DEFINE are IMPLEMENTED as
    # iterative conditions since round 9 (tests/test_cep_iterative.py);
    # a smoke: the running sum bound caps each A run
    got2 = tenv.execute_sql(
        """
        SELECT n FROM mr_next_src MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES COUNT(A.*) AS n ONE ROW PER MATCH
          PATTERN (A+) DEFINE A AS SUM(A.v) < 9
        ) ORDER BY n
        """
    ).collect()
    # greedy scan over 5,3,4,9,2,6: {5,3}, {4}, {2,6} — 9 alone fails
    assert sorted(r["n"] for r in got2) == [1, 2, 2]


def test_match_recognize_sql_skip_to_next_row(tenv, spark):
    """SKIP TO NEXT ROW resumes at match start + 1 -> overlapping
    matches; PAST LAST ROW (default) tiles them."""
    spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([1, 2, 3, 4])], "k int, pos int, v double"
    ).createOrReplaceTempView("mr_skip_src")

    def count_matches(skip_clause):
        return tenv.execute_sql(
            f"""
            SELECT COUNT(*) AS n FROM mr_skip_src MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY pos
              MEASURES COUNT(A.*) AS n_a
              ONE ROW PER MATCH
              {skip_clause}
              PATTERN (A B)
              DEFINE A AS TRUE, B AS TRUE
            )
            """
        ).first()["n"]

    assert count_matches("AFTER MATCH SKIP PAST LAST ROW") == 2  # (0,1) (2,3)
    assert count_matches("AFTER MATCH SKIP TO NEXT ROW") == 3  # + (1,2)
    with pytest.raises(NotImplementedError, match="SYSTEM_TIME"):
        # subquery build side: outside the supported clause shape
        tenv.execute_sql(
            "SELECT * FROM a JOIN (SELECT * FROM b) FOR SYSTEM_TIME AS OF a.ts ON a.k = b.k"
        )


def test_versioned_table_registered_from_ddl(tenv, spark, tmp_dir):
    """Flink's versioned-table DDL (WATERMARK + PRIMARY KEY) makes the
    table usable as a FOR SYSTEM_TIME AS OF build side without an
    explicit register_versioned_table call."""
    spark.sql("DROP TABLE IF EXISTS rates_ddl")
    tenv.execute_sql(
        f"""
        CREATE TABLE rates_ddl (
          cur STRING, rate INT, vt TIMESTAMP,
          PRIMARY KEY (cur) NOT ENFORCED,
          WATERMARK FOR vt AS vt - INTERVAL '5' SECOND
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_dir}/rates_ddl',
                'format' = 'parquet')
        """
    )
    try:
        assert tenv._versioned["rates_ddl"] == "vt"
    finally:
        spark.sql("DROP TABLE IF EXISTS rates_ddl")


def test_temporal_join_sql_versioned_table(tenv, spark):
    """FOR SYSTEM_TIME AS OF joins each probe row to the latest version
    with rowtime <= probe time (TemporalRowTimeJoinOperator semantics);
    INNER drops pre-history probes, LEFT keeps them as nulls."""
    spark.createDataFrame(
        [("eur", 10, 100), ("eur", 20, 200), ("usd", 15, 50)],
        "cur string, vt int, rate int",
    ).createOrReplaceTempView("_rates_src")
    tenv.register_versioned_table("rates", spark.table("_rates_src"), time_col="vt")
    spark.createDataFrame(
        [(1, "eur", 5), (2, "eur", 10), (3, "eur", 25), (4, "usd", 20), (5, "gbp", 30)],
        "id int, cur string, t int",
    ).createOrReplaceTempView("trades")

    got = tenv.execute_sql(
        """
        SELECT o.id, o.cur, r.rate
        FROM trades o JOIN rates FOR SYSTEM_TIME AS OF o.t AS r
        ON o.cur = r.cur
        ORDER BY id
        """
    )
    # id=1 predates every eur version (dropped); id=2 hits vt=10 (<=);
    # id=3 hits vt=20; id=4 hits usd vt=15; gbp has no versions (dropped)
    assert [tuple(r) for r in got.collect()] == [
        (2, "eur", 100),
        (3, "eur", 200),
        (4, "usd", 50),
    ]

    left = tenv.execute_sql(
        """
        SELECT o.id, r.rate
        FROM trades o LEFT JOIN rates FOR SYSTEM_TIME AS OF o.t AS r
        ON o.cur = r.cur
        ORDER BY id
        """
    )
    assert [tuple(r) for r in left.collect()] == [
        (1, None),
        (2, 100),
        (3, 200),
        (4, 50),
        (5, None),
    ]


def test_match_recognize_sql_routes_through_cep_operator(tenv, spark, tables):
    """The SQL clause form must agree with the directly-driven operator
    (same NFA), measures computed as per-match aggregations."""
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.operators.cep import match_recognize

    got = tenv.execute_sql(
        """
        SELECT user_id, match_no, n_down, n_up, bottom
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS match_no,
                   COUNT(DOWN.*) AS n_down,
                   COUNT(UP.*) AS n_up,
                   LAST(DOWN.value) AS bottom
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP AS UP.value > PREV(UP.value)
        ) AS m
        WHERE user_id <= 3
        """
    )
    ev = tables["events"].select("user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    matched = match_recognize(
        ev,
        "user_id",
        ["ts", "event_id"],
        "DOWN+ UP+",
        {"DOWN": F.col("value") < prev, "UP": F.col("value") > prev},
    )
    expected = (
        matched.where("user_id <= 3")
        .groupBy("user_id", "match_id")
        .agg(
            F.count(F.when(F.col("matched_symbol") == "DOWN", 1)).alias("n_down"),
            F.count(F.when(F.col("matched_symbol") == "UP", 1)).alias("n_up"),
        )
        .select(
            "user_id", (F.col("match_id") + 1).alias("match_no"), "n_down", "n_up"
        )
    )
    assert rows(got.select("user_id", "match_no", "n_down", "n_up")) == rows(expected)
    # LAST(DOWN.value): the bottom of the V is strictly below both ends
    assert got.where("bottom IS NULL").count() == 0


def test_plain_sql_passthrough(tenv, tables):
    got = tenv.execute_sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    expected = tables["lineitem"].groupBy("l_returnflag").agg(F.count("*").alias("n"))
    assert rows(got) == rows(expected)


def test_statement_set_multi_insert(tenv, spark, tmp_dir):
    spark.sql("DROP TABLE IF EXISTS ss_a")
    spark.sql("DROP TABLE IF EXISTS ss_b")
    spark.sql(f"CREATE TABLE ss_a (v BIGINT) USING parquet LOCATION '{tmp_dir}/a'")
    spark.sql(f"CREATE TABLE ss_b (v BIGINT) USING parquet LOCATION '{tmp_dir}/b'")
    try:
        res = tenv.execute_sql(
            """
            BEGIN STATEMENT SET;
              INSERT INTO ss_a SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1;
              INSERT INTO ss_b SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F';
            END
            """
        )
        assert res.count() == 2
        n_a = spark.table("ss_a").count()
        n_b = spark.table("ss_b").count()
        assert n_a == spark.table("lineitem").where("l_linenumber = 1").count() > 0
        assert n_b == spark.table("orders").where("o_orderstatus = 'F'").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ss_a")
        spark.sql("DROP TABLE IF EXISTS ss_b")


def test_statement_set_api(tenv, spark, tmp_dir):
    spark.sql("DROP TABLE IF EXISTS ss_c")
    spark.sql(f"CREATE TABLE ss_c (v BIGINT) USING parquet LOCATION '{tmp_dir}/c'")
    try:
        ss = tenv.create_statement_set()
        ss.add_insert_sql("INSERT INTO ss_c SELECT doc_id FROM documents WHERE doc_id < 7")
        ss.execute()
        assert spark.table("ss_c").count() == 7
    finally:
        spark.sql("DROP TABLE IF EXISTS ss_c")


def test_unnest_translation(tenv, tables):
    got = tenv.execute_sql(
        """
        SELECT doc_id, tok FROM documents
        CROSS JOIN UNNEST(split(text, ' ')) AS t(tok)
        WHERE doc_id = 1
        """
    )
    expected = (
        tables["documents"]
        .where("doc_id = 1")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    assert rows(got) == rows(expected)


def test_unnest_multi_column_row_array(tenv, spark):
    """UNNEST(array<row>) AS t(a, b) flattens row fields to columns
    (Flink SqlUnnestUtils row form) -> Spark LATERAL VIEW inline."""
    spark.sql(
        "SELECT * FROM VALUES (1, array(named_struct('item', 'a', 'qty', 2),"
        " named_struct('item', 'b', 'qty', 3))), (2, array(named_struct('item', 'c', 'qty', 5)))"
        " AS t(order_id, lines)"
    ).createOrReplaceTempView("unnest_rows_src")
    got = tenv.execute_sql(
        "SELECT order_id, item, qty FROM unnest_rows_src"
        " CROSS JOIN UNNEST(lines) AS u(item, qty)"
    )
    assert rows(got) == [(1, "a", 2), (1, "b", 3), (2, "c", 5)]


def test_unnest_multi_column_map(tenv, spark):
    """UNNEST(map) AS t(k, v) -> explode; resolved via the typed retry
    (inline fails analysis on a map operand)."""
    spark.sql(
        "SELECT * FROM VALUES (1, map('x', 10, 'y', 20)), (2, map('z', 30))"
        " AS t(id, attrs)"
    ).createOrReplaceTempView("unnest_map_src")
    got = tenv.execute_sql(
        "SELECT id, k, v FROM unnest_map_src CROSS JOIN UNNEST(attrs) AS u(k, v)"
    )
    assert rows(got) == [(1, "x", 10), (1, "y", 20), (2, "z", 30)]


def test_flink_sql_tvf_on_streaming_view(tenv, spark, tables, tmp_dir):
    """The reference's primary mode: Flink SQL over an unbounded stream.
    A TUMBLE TVF query issued through execute_sql against a STREAMING
    temp view must run as a streaming query and converge to the batch
    result (stream-batch unification)."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    stream = chunked_replay(
        spark, tables["events"], os.path.join(tmp_dir, "sqlstream"), n_chunks=3
    )
    stream.createOrReplaceTempView("events_stream")
    sdf = tenv.execute_sql(
        """
        SELECT window_start, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM TABLE(TUMBLE(TABLE events_stream, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start
        """
    )
    assert sdf.isStreaming
    got = run_to_memory(spark, sdf, "sqlstream_out", tmp_dir, mode="complete")
    expected = tenv.execute_sql(
        """
        SELECT window_start, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start
        """
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_flink_sql_cumulate_tvf_on_streaming_view(tenv, spark, tables, tmp_dir):
    """CUMULATE TVF over a STREAMING view: the slice-expansion rewrite is
    narrow (explode + filter), so it runs as a streaming query and
    converges to the batch TVF result. (The dedicated scale path with
    watermark-purged state is streaming.ops.cumulate_agg, tested
    stream-vs-batch in test_streaming.py.)"""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    stream = chunked_replay(
        spark, tables["events"], os.path.join(tmp_dir, "cumstream"), n_chunks=3
    )
    stream.createOrReplaceTempView("events_cumstream")
    q = """
        SELECT window_start, window_end, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM TABLE(CUMULATE(TABLE {src}, DESCRIPTOR(ts),
                            INTERVAL '15' MINUTE, INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
        """
    sdf = tenv.execute_sql(q.format(src="events_cumstream"))
    assert sdf.isStreaming
    got = run_to_memory(spark, sdf, "cumstream_out", tmp_dir, mode="complete")
    expected = tenv.execute_sql(q.format(src="events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


# --- DDL/DQL statement surface (flink-sql-parser ddl/ + dql/) -------------


def test_show_statements(tenv):
    tabs = {r[1] for r in tenv.execute_sql("SHOW TABLES").collect()}
    assert "events" in tabs and "nation" in tabs
    dbs = {r[0] for r in tenv.execute_sql("SHOW DATABASES").collect()}
    assert "default" in dbs
    fns = {r[0].lower() for r in tenv.execute_sql("SHOW FUNCTIONS").collect()}
    assert "sum" in fns
    cur_db = tenv.execute_sql("SHOW CURRENT DATABASE").collect()
    assert cur_db[0][0] == "default"
    cur_cat = tenv.execute_sql("SHOW CURRENT CATALOG").collect()
    assert cur_cat[0][0] == "spark_catalog"
    cats = {r[0] for r in tenv.execute_sql("SHOW CATALOGS").collect()}
    assert "spark_catalog" in cats


def test_describe_statement(tenv):
    cols = {r[0]: r[1] for r in tenv.execute_sql("DESCRIBE nation").collect()}
    assert cols["n_nationkey"] in ("int", "bigint")
    assert "n_name" in cols
    # DESC abbreviation (SqlRichDescribeTable accepts both)
    assert {r[0] for r in tenv.execute_sql("DESC nation").collect()} == set(cols)


def test_explain_plan_for(tenv):
    plan = tenv.execute_sql(
        "EXPLAIN PLAN FOR SELECT n_name FROM nation WHERE n_regionkey = 0"
    ).collect()
    text = plan[0][0]
    assert "n_regionkey" in text
    # Flink's EXPLAIN details collapse onto Spark's single plan output
    plan2 = tenv.execute_sql(
        "EXPLAIN ESTIMATED_COST, CHANGELOG_MODE PLAN FOR SELECT 1"
    ).collect()
    assert plan2[0][0]
    # EXPLAIN of dialect SQL: the inner statement is translated too
    plan3 = tenv.execute_sql(
        "EXPLAIN PLAN FOR SELECT window_start, COUNT(*) FROM "
        "TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start"
    ).collect()
    assert plan3[0][0]
    # details WITHOUT 'PLAN FOR' (Flink allows both), incl. PLAN_ADVICE
    plan4 = tenv.execute_sql("EXPLAIN ESTIMATED_COST SELECT 1").collect()
    assert plan4[0][0]
    plan5 = tenv.execute_sql("EXPLAIN PLAN_ADVICE, CHANGELOG_MODE SELECT 1").collect()
    assert plan5[0][0]


def test_use_and_database_lifecycle(tenv, spark, tmp_dir):
    import os

    loc = os.path.join(tmp_dir, "ddl_db")
    tenv.execute_sql(f"CREATE DATABASE IF NOT EXISTS ddl_test_db LOCATION '{loc}'")
    try:
        tenv.execute_sql("USE ddl_test_db")
        assert spark.catalog.currentDatabase() == "ddl_test_db"
    finally:
        tenv.execute_sql("USE default")
    assert spark.catalog.currentDatabase() == "default"
    tenv.execute_sql("DROP DATABASE ddl_test_db")
    dbs = {r[0] for r in tenv.execute_sql("SHOW DATABASES").collect()}
    assert "ddl_test_db" not in dbs


def test_alter_table_add_rename_drop(tenv, spark, tmp_dir):
    import os

    loc = os.path.join(tmp_dir, "alter_tbl")
    tenv.execute_sql("DROP TABLE IF EXISTS alter_src")
    tenv.execute_sql("DROP TABLE IF EXISTS alter_dst")
    tenv.execute_sql(
        "CREATE TABLE alter_src (k BIGINT, v STRING) "
        f"WITH ('connector'='filesystem', 'path'='{loc}', 'format'='parquet')"
    )
    tenv.execute_sql("INSERT INTO alter_src VALUES (1, 'a'), (2, 'b')")
    tenv.execute_sql("ALTER TABLE alter_src ADD (note STRING)")
    cols = [r[0] for r in tenv.execute_sql("DESCRIBE alter_src").collect()]
    assert "note" in cols
    tenv.execute_sql("ALTER TABLE alter_src RENAME TO alter_dst")
    got = sorted(
        (r["k"], r["v"], r["note"])
        for r in tenv.execute_sql("SELECT * FROM alter_dst").collect()
    )
    assert got == [(1, "a", None), (2, "b", None)]
    # ALTER ... SET ('k'='v') -> TBLPROPERTIES
    tenv.execute_sql("ALTER TABLE alter_dst SET ('note.kind'='test')")
    tbl = tenv.execute_sql("SHOW CREATE TABLE alter_dst").collect()[0][0]
    assert "note.kind" in tbl
    tenv.execute_sql("DROP TABLE alter_dst")
    tabs = {r[1] for r in tenv.execute_sql("SHOW TABLES").collect()}
    assert "alter_dst" not in tabs and "alter_src" not in tabs


def test_drop_temporary_view_statement(tenv, spark):
    tenv.execute_sql("CREATE TEMPORARY VIEW drop_me AS SELECT 1 AS one")
    assert tenv.execute_sql("SELECT * FROM drop_me").collect()[0][0] == 1
    tenv.execute_sql("DROP TEMPORARY VIEW drop_me")
    assert not spark.catalog.tableExists("drop_me")


def test_module_statements_are_loud(tenv):
    for stmt in ("SHOW MODULES", "SHOW FULL MODULES", "SHOW JARS",
                 "USE MODULES core", "LOAD MODULE hive", "UNLOAD MODULE core"):
        with pytest.raises(NotImplementedError):
            tenv.execute_sql(stmt)


def test_match_recognize_sql_on_streaming_view(tenv, spark, tmp_dir):
    """MATCH_RECOGNIZE SQL text on a STREAMING view routes through the
    incremental NFA and equals the batch result on the same data —
    including PREV in DEFINE (compiled to a pandas shift over buffered
    history) and CLASSIFIER/MATCH_NUMBER measures."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    rows = [(1, i, float(v)) for i, v in enumerate([5, 3, 1, 4, 6, 2, 1, 3, 7, 5])]
    df = spark.createDataFrame(rows, "k int, pos int, price double")
    sql_text = """
        SELECT pos, sym, mno FROM {src}
        MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES CLASSIFIER() AS sym, MATCH_NUMBER() AS mno
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                 UP AS UP.price > PREV(UP.price)
        )
    """
    tenv.create_temporary_view("mr_batch_src", df)
    expected = sorted(
        map(tuple, tenv.execute_sql(sql_text.format(src="mr_batch_src")).collect())
    )
    assert expected, "fixture must produce matches"

    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "mr_stream"), n_chunks=3, order_col="pos"
    )
    stream.createOrReplaceTempView("mr_stream_src")
    sdf = tenv.execute_sql(sql_text.format(src="mr_stream_src"))
    assert sdf.isStreaming
    got = sorted(
        map(tuple, run_to_memory(spark, sdf, "mr_sql_stream_out", tmp_dir, mode="append").collect())
    )
    assert got == expected


_MR_FIXTURE_ROWS = [
    (k, i, float(v))
    for k in (1, 2)
    for i, v in enumerate([5, 3, 1, 4, 6, 2, 1, 3, 7, 5, 4, 2, 6, 8, 1])
] + [
    # terminal sentinel per partition: NULL price matches NO symbol, so
    # greedy matches at the data's tail CLOSE in the streaming engine
    # too (an open match on an unbounded stream never emits — correct
    # streaming semantics; batch force-closes at end-of-data). Both
    # engines see the same sentinel, keeping the comparison fair.
    (k, 15, None)
    for k in (1, 2)
]


def _mr_stream_vs_batch(tenv, spark, tmp_dir, sql_text, name):
    """Run the same MATCH_RECOGNIZE SQL on batch and streaming views of
    the same fixture; return (batch_rows, stream_rows) sorted."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    df = spark.createDataFrame(_MR_FIXTURE_ROWS, "k int, pos int, price double")
    tenv.create_temporary_view(f"mrb_{name}", df)
    # plain replacement, not str.format: PATTERN quantifiers carry {n,m}
    expected = sorted(
        map(tuple, tenv.execute_sql(sql_text.replace("{src}", f"mrb_{name}")).collect())
    )
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, f"mrs_{name}"), n_chunks=4, order_col="pos"
    )
    stream.createOrReplaceTempView(f"mrs_{name}")
    sdf = tenv.execute_sql(sql_text.replace("{src}", f"mrs_{name}"))
    assert sdf.isStreaming
    got = sorted(
        map(tuple, run_to_memory(spark, sdf, f"mr_out_{name}", tmp_dir, mode="append").collect())
    )
    return expected, got


def test_match_recognize_sql_streaming_one_row_per_match(tenv, spark, tmp_dir):
    """ONE ROW PER MATCH on the streaming route: FINAL aggregate and
    navigation measures computed per completed match == batch."""
    expected, got = _mr_stream_vs_batch(
        tenv, spark, tmp_dir,
        """
        SELECT k, mno, n_down, total, lo, first_up, last_up FROM {src}
        MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES MATCH_NUMBER() AS mno, COUNT(DOWN.pos) AS n_down,
                   SUM(price) AS total, MIN(DOWN.price) AS lo,
                   FIRST(UP.price) AS first_up, LAST(UP.price) AS last_up
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                 UP AS UP.price > PREV(UP.price)
        )
        """,
        "onerow",
    )
    assert expected and got == expected


def test_match_recognize_sql_streaming_running_final_measures(tenv, spark, tmp_dir):
    """ALL ROWS PER MATCH with RUNNING (default) and FINAL(...) agg
    measures on the streaming route == batch Catalyst window frames."""
    expected, got = _mr_stream_vs_batch(
        tenv, spark, tmp_dir,
        """
        SELECT pos, sym, run_sum, fin_sum, run_cnt, run_min FROM {src}
        MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES CLASSIFIER() AS sym, SUM(price) AS run_sum,
                   FINAL(SUM(price)) AS fin_sum, COUNT(*) AS run_cnt,
                   RUNNING(MIN(price)) AS run_min
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                 UP AS UP.price > PREV(UP.price)
        )
        """,
        "runfin",
    )
    assert expected and got == expected


@pytest.mark.parametrize(
    "skip", ["PAST LAST ROW", "TO NEXT ROW", "TO LAST UP", "TO FIRST UP"]
)
def test_match_recognize_sql_streaming_skip_strategies(tenv, spark, tmp_dir, skip):
    """Every AFTER MATCH SKIP strategy × ALL ROWS on the streaming SQL
    route == batch (overlapping strategies re-scan emitted rows)."""
    expected, got = _mr_stream_vs_batch(
        tenv, spark, tmp_dir,
        f"""
        SELECT pos, sym, mno FROM {{src}}
        MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES CLASSIFIER() AS sym, MATCH_NUMBER() AS mno
          ALL ROWS PER MATCH
          AFTER MATCH SKIP {skip}
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                 UP AS UP.price > PREV(UP.price)
        )
        """,
        "skip_" + skip.lower().replace(" ", "_"),
    )
    # match ids may be assigned in a different interleaving per partition
    # across engines; compare the (pos, sym) row multiset and match count
    strip = lambda rows: sorted((p, s) for p, s, _m in rows)
    assert expected and strip(got) == strip(expected)
    assert len({m for *_x, m in got}) == len({m for *_x, m in expected})


def test_match_recognize_sql_streaming_prev_offset_2(tenv, spark, tmp_dir):
    """PREV(col, 2) in DEFINE: the streaming route must retain enough
    context rows across micro-batch boundaries (context_rows follows the
    max compiled PREV offset) — silent divergence here was the round-4
    advisor's medium finding."""
    expected, got = _mr_stream_vs_batch(
        tenv, spark, tmp_dir,
        """
        SELECT pos, sym FROM {src}
        MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES CLASSIFIER() AS sym
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS A.price > 0,
                 B AS B.price < PREV(B.price, 2)
        )
        """,
        "prev2",
    )
    assert expected and got == expected


def test_match_recognize_streaming_define_guard_is_compile_time(tenv, spark, tmp_dir):
    """Dotted attribute access and unknown identifiers in a streaming
    DEFINE must die at COMPILE time with NotImplementedError, not
    executor-side in eval."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay

    df = spark.createDataFrame([(1, 0, 1.0)], "k int, pos int, price double")
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "mr_guard"), n_chunks=1, order_col="pos"
    )
    stream.createOrReplaceTempView("mr_guard_src")
    for bad_define in ("A AS pdf.sum() > 0", "A AS price > 0", "A AS abs(A.price) > 0"):
        with pytest.raises((NotImplementedError, ValueError)):
            tenv.execute_sql(f"""
                SELECT * FROM mr_guard_src MATCH_RECOGNIZE (
                  PARTITION BY k ORDER BY pos
                  MEASURES MATCH_NUMBER() AS mno ALL ROWS PER MATCH
                  PATTERN (A+) DEFINE {bad_define}
                )
            """)


def test_catalog_persistence_journal_replay(tenv, spark, tables, tmp_dir):
    """Flink catalogs outlive sessions (SqlCreateCatalog); the Spark
    analog here is a persistent-DDL journal. Create database + external
    table + view with journaling on, wipe the session catalog directly
    (simulating a fresh session), replay — metadata AND data must
    survive (data rides the external location)."""
    import os

    journal = os.path.join(tmp_dir, "catalog", "ddl.jsonl")
    loc = os.path.join(tmp_dir, "persist_nation")
    prev_db = spark.catalog.currentDatabase()
    tenv.enable_catalog_persistence(journal)
    try:
        tenv.execute_sql(
            f"CREATE DATABASE IF NOT EXISTS persist_db LOCATION '{loc}_db'"
        )
        tenv.execute_sql(
            "CREATE TABLE IF NOT EXISTS persist_db.persist_nation ("
            "n_nationkey BIGINT, n_name STRING) "
            f"WITH ('connector'='filesystem', 'path'='{loc}', 'format'='parquet')"
        )
        tables["nation"].select("n_nationkey", "n_name").write.mode(
            "overwrite"
        ).parquet(loc)
        tenv.execute_sql(
            "CREATE VIEW IF NOT EXISTS persist_db.persist_top AS "
            "SELECT n_name FROM persist_db.persist_nation WHERE n_nationkey < 5"
        )
        # persistent SQL-bodied function journals (SqlCreateFunction
        # analog); the temporary one below must not
        tenv.execute_sql(
            "CREATE OR REPLACE FUNCTION persist_db.persist_twice(x BIGINT) "
            "RETURNS BIGINT RETURN x * 2"
        )
        # temporary objects must NOT be journaled
        tenv.execute_sql("CREATE TEMPORARY VIEW persist_tmp AS SELECT 1 AS one")
        tenv.execute_sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION persist_tmp_fn(x BIGINT) "
            "RETURNS BIGINT RETURN x + 1"
        )
        n_before = tenv.execute_sql(
            "SELECT COUNT(*) AS n FROM persist_db.persist_top"
        ).collect()[0]["n"]
        assert n_before == 5

        assert tenv.execute_sql(
            "SELECT persist_db.persist_twice(21) AS v"
        ).collect()[0]["v"] == 42

        # simulate a fresh session: wipe the catalog BEHIND the journal
        spark.sql("DROP VIEW IF EXISTS persist_db.persist_top")
        spark.sql("DROP TABLE IF EXISTS persist_db.persist_nation")
        spark.sql("DROP FUNCTION IF EXISTS persist_db.persist_twice")
        spark.sql("DROP DATABASE IF EXISTS persist_db")
        spark.catalog.dropTempView("persist_tmp")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS persist_tmp_fn")

        fresh = type(tenv).create(spark)
        replayed = fresh.restore_catalog(journal)
        # database + table + view + function; temp view/function absent
        assert replayed == 4
        rows = fresh.execute_sql(
            "SELECT COUNT(*) AS n FROM persist_db.persist_top"
        ).collect()
        assert rows[0]["n"] == 5
        assert fresh.execute_sql(
            "SELECT persist_db.persist_twice(21) AS v"
        ).collect()[0]["v"] == 42
        assert not any(
            v.name == "persist_tmp" for v in spark.catalog.listTables()
        )
        assert not spark.catalog.functionExists("persist_tmp_fn")
    finally:
        spark.sql("DROP VIEW IF EXISTS persist_db.persist_top")
        spark.sql("DROP TABLE IF EXISTS persist_db.persist_nation")
        spark.sql("DROP FUNCTION IF EXISTS persist_db.persist_twice")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS persist_tmp_fn")
        spark.sql("DROP DATABASE IF EXISTS persist_db")
        spark.catalog.setCurrentDatabase(prev_db)


def test_match_recognize_sql_streaming_multi_partition_cols(tenv, spark, tmp_dir):
    """PARTITION BY with TWO columns on the streaming route (previously
    raised): matches stay within each (k, grp) partition, equal to the
    batch result."""
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.test_streaming import run_to_memory

    rows = [
        (k, g, i, float(v))
        for k in (1, 2)
        for g in ("x", "y")
        for i, v in enumerate([5, 3, 6, 2, 4])
    ]
    df = spark.createDataFrame(rows, "k int, grp string, pos int, price double")
    sql_text = """
        SELECT k, grp, pos, sym FROM {src}
        MATCH_RECOGNIZE (
          PARTITION BY k, grp ORDER BY pos
          MEASURES CLASSIFIER() AS sym
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN UP)
          DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                 UP AS UP.price > PREV(UP.price)
        )
    """
    tenv.create_temporary_view("mr_mp_batch", df)
    expected = sorted(map(tuple, tenv.execute_sql(sql_text.format(src="mr_mp_batch")).collect()))
    assert expected
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "mr_mp"), n_chunks=3, order_col="pos"
    )
    stream.createOrReplaceTempView("mr_mp_stream")
    sdf = tenv.execute_sql(sql_text.format(src="mr_mp_stream"))
    assert sdf.isStreaming
    got = sorted(map(tuple, run_to_memory(spark, sdf, "mr_mp_out", tmp_dir, mode="append").collect()))
    assert got == expected


def test_create_catalog_is_loud_with_pointer(tenv):
    with pytest.raises(NotImplementedError, match="enable_catalog_persistence"):
        tenv.execute_sql("CREATE CATALOG my_cat WITH ('type' = 'generic_in_memory')")
    with pytest.raises(NotImplementedError, match="session-start plugins"):
        tenv.execute_sql("DROP CATALOG my_cat")


@pytest.mark.parametrize(
    "pattern,define,measures,skip",
    [
        # greedy plus-runs, mixed agg + navigation measures, RUNNING default
        ("(DOWN+ UP+)",
         "DOWN AS DOWN.price < PREV(DOWN.price), UP AS UP.price > PREV(UP.price)",
         "SUM(price) AS s, MIN(DOWN.price) AS lo, LAST(UP.price) AS lu",
         "PAST LAST ROW"),
        # alternation group + FINAL frames + overlap skip
        ("((A | B)+)",
         "A AS A.price > 4, B AS B.price <= 4",
         "FINAL(COUNT(A.*)) AS na, FINAL(COUNT(B.*)) AS nb, CLASSIFIER() AS sym",
         "TO NEXT ROW"),
        # bounded quantifier + PREV offset 2 + AVG
        ("(A{2,3} B)",
         "A AS A.price > 0, B AS B.price < PREV(B.price, 2)",
         "AVG(A.price) AS avg_a, MATCH_NUMBER() AS mno",
         "PAST LAST ROW"),
        # reluctant quantifier + MAX + skip-to-first
        ("(DOWN+? UP)",
         "DOWN AS DOWN.price < PREV(DOWN.price), UP AS UP.price > PREV(UP.price)",
         "MAX(price) AS hi, FIRST(DOWN.price) AS fd",
         "TO FIRST UP"),
    ],
    ids=["greedy-mixed", "alternation-final", "bounded-prev2", "reluctant-skipfirst"],
)
def test_match_recognize_matrix_stream_equals_batch(
    tenv, spark, tmp_dir, pattern, define, measures, skip
):
    """Cross-engine MR matrix: pattern shapes x measures x skip
    strategies, ALL ROWS PER MATCH, stream == batch on every cell."""
    name = f"mx_{abs(hash((pattern, measures, skip))) % 10**6}"
    expected, got = _mr_stream_vs_batch(
        tenv, spark, tmp_dir,
        f"""
        SELECT pos, {', '.join(m.split(' AS ')[-1] for m in measures.split(', '))}
        FROM {{src}} MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY pos
          MEASURES {measures}
          ALL ROWS PER MATCH
          AFTER MATCH SKIP {skip}
          PATTERN {pattern}
          DEFINE {define}
        )
        """,
        name,
    )
    assert expected and got == expected


def test_analyze_table_statement_returns_profile(tenv, spark):
    """Flink ANALYZE TABLE ... COMPUTE STATISTICS routes to the one-pass
    profiler: FOR ALL COLUMNS returns one stats row per column, FOR
    COLUMNS a subset, bare form the row count."""
    out = tenv.execute_sql(
        "ANALYZE TABLE orders COMPUTE STATISTICS FOR ALL COLUMNS"
    ).collect()
    assert {r["col_name"] for r in out} >= {"o_orderkey", "o_orderstatus"}
    assert all(r["n_rows"] == out[0]["n_rows"] for r in out)

    sub = tenv.execute_sql(
        "ANALYZE TABLE orders COMPUTE STATISTICS FOR COLUMNS o_custkey, o_totalprice"
    ).collect()
    assert {r["col_name"] for r in sub} == {"o_custkey", "o_totalprice"}

    bare = tenv.execute_sql("ANALYZE TABLE orders COMPUTE STATISTICS").collect()
    assert bare[0]["n_rows"] == out[0]["n_rows"]


def test_analyze_table_trailing_semicolon_and_bad_column(tenv):
    import pytest

    out = tenv.execute_sql(
        "ANALYZE TABLE orders COMPUTE STATISTICS FOR ALL COLUMNS;"
    ).collect()
    assert len(out) >= 6  # semicolon form routes to the profiler too

    with pytest.raises(ValueError, match="columns not in table.*o_typo"):
        tenv.execute_sql(
            "ANALYZE TABLE orders COMPUTE STATISTICS FOR COLUMNS o_typo"
        )


def test_match_recognize_sql_within_interval(tenv, spark):
    """PATTERN (...) WITHIN INTERVAL — the SQL form of the time-bounded
    pattern, on a real timestamp rowtime; equals the operator call."""
    import datetime as dt

    from reshape_on_flink_spark.operators.cep import match_recognize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=m), s)
        for m, s in [(0, "v"), (2, "v"), (4, "p"), (30, "v"), (50, "p"), (60, "v"), (63, "p")]
    ]
    spark.createDataFrame(rows, "k int, ts timestamp, t string").createOrReplaceTempView(
        "mr_within_src"
    )
    got = tenv.execute_sql(
        """
        SELECT k, n_rows FROM mr_within_src MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES COUNT(*) AS n_rows
          ONE ROW PER MATCH
          PATTERN (V+ P) WITHIN INTERVAL '10' MINUTE
          DEFINE V AS V.t = 'v', P AS P.t = 'p'
        )
        """
    ).collect()
    # (0,2,4) fits in 10 min; (30,50) exceeds it; (60,63) fits
    assert sorted(r["n_rows"] for r in got) == [2, 3]
    op = match_recognize(
        spark.table("mr_within_src"), "k", "ts", "V+ P",
        {"V": F.col("t") == "v", "P": F.col("t") == "p"}, within=600,
    )
    n_per_match = {}
    for r in op.collect():
        n_per_match[r["match_id"]] = n_per_match.get(r["match_id"], 0) + 1
    assert sorted(n_per_match.values()) == [2, 3]


def test_similar_to_listagg_and_show_create_temp(spark):
    """Round-6 dialect gap closures: SIMILAR TO (SQL:2016 regex with
    LIKE wildcards -> anchored RLIKE), single-arg LISTAGG default ','
    separator, SHOW CREATE TABLE on temporary views."""
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    spark.createDataFrame(
        [(1, "abc", 10.0), (2, "xy", 5.0), (3, "a%c", 1.0)],
        "id int, k string, v double",
    ).createOrReplaceTempView("dialect_gap_t")
    q = lambda s: [r["id"] for r in tenv.execute_sql(s).collect()]  # noqa: E731
    assert q("SELECT id FROM dialect_gap_t WHERE k SIMILAR TO 'a_c' ORDER BY id") == [1, 3]
    assert q("SELECT id FROM dialect_gap_t WHERE k SIMILAR TO 'a\\%c' ORDER BY id") == [3]
    assert q("SELECT id FROM dialect_gap_t WHERE k NOT SIMILAR TO '%b%' ORDER BY id") == [2, 3]
    assert q("SELECT id FROM dialect_gap_t WHERE k SIMILAR TO '(a|x)%' ORDER BY id") == [1, 2, 3]
    assert q("SELECT id FROM dialect_gap_t WHERE k SIMILAR TO 'ab' ORDER BY id") == []  # anchored
    r = tenv.execute_sql("SELECT LISTAGG(k) AS l FROM dialect_gap_t WHERE id < 3").collect()
    assert r[0]["l"] == "abc,xy"
    r2 = tenv.execute_sql("SELECT LISTAGG(k, '|') AS l FROM dialect_gap_t WHERE id < 3").collect()
    assert r2[0]["l"] == "abc|xy"
    ddl = tenv.execute_sql("SHOW CREATE TABLE dialect_gap_t").collect()[0]["createtab_stmt"]
    assert ddl.startswith("CREATE TEMPORARY VIEW dialect_gap_t") and "k STRING" in ddl


def test_json_constructors_and_is_json(spark):
    """SQL:2016 JSON constructors through the dialect: JSON_OBJECT
    (KEY/VALUE, NULL vs ABSENT ON NULL — Flink default keeps nulls),
    JSON_ARRAY (default ABSENT drops nulls), IS [NOT] JSON."""
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    one = lambda s: tenv.execute_sql(s).collect()[0][0]  # noqa: E731
    assert one("SELECT JSON_OBJECT('a' VALUE 1, 'b' VALUE NULL) AS j") == '{"a":1,"b":null}'
    assert one("SELECT JSON_OBJECT(KEY 'a' VALUE 1, 'b' VALUE NULL ABSENT ON NULL) AS j") == '{"a":1}'
    assert one("SELECT JSON_ARRAY(1, NULL, 2) AS j") == "[1,2]"
    assert one("SELECT JSON_ARRAY(1, NULL, 2 NULL ON NULL) AS j") == "[1,null,2]"
    assert one("SELECT '{\"a\":1}' IS JSON AS j") is True
    assert one("SELECT 'oops{' IS JSON AS j") is False
    assert one("SELECT 'oops{' IS NOT JSON AS j") is True
    import pytest as _p
    with _p.raises(ValueError, match="JSON_OBJECT expects"):
        tenv.execute_sql("SELECT JSON_OBJECT('a', 1) AS j")


def test_default_driver_memory_stays_below_physical_ram(monkeypatch):
    """The session's driver heap default is derived from physical RAM
    (capped at 48g): a local-mode JVM sized above RAM is OOM-killed by
    the kernel before it ever collects."""
    from reshape_on_flink_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as fh:
        mem_total_mb = next(
            int(line.split()[1]) // 1024
            for line in fh
            if line.startswith("MemTotal:")
        )
    default = session.default_driver_memory()
    assert default.endswith("m")
    heap_mb = int(default[:-1])
    assert heap_mb < mem_total_mb
    assert heap_mb <= session.DRIVER_MEM_CAP_MB
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
