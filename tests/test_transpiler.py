"""Transpiler proof: executable Spark↔DuckDB equivalence on a corpus of
canonical-subset queries, emission checks for all seven dialects, and
loud-failure behavior outside the subset. (The driver-side evidence is
registry_transpile — the oracle there IS the transpiled text.)"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from defi_etl_platform_sqlglot_implementation__spark import plans
from defi_etl_platform_sqlglot_implementation__spark.plans import sqlutil
from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
    DIALECTS,
    UnsupportedConstructError,
    transpile,
)

SF = "/root/testdata/sf0.001"

# Executable corpus: Spark-dialect texts whose results are engine-exact
# (integral aggregates, formatted timestamps, strings).
CORPUS = [
    # date_trunc + date_format + reserved alias + HAVING
    """SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hb,
              event_type AS `type`, COUNT(*) AS n
       FROM events GROUP BY 1, 2 HAVING COUNT(*) > 2""",
    # CASE + CAST + div + ORDER/LIMIT passthrough
    """SELECT user_id div 100 AS bucket,
              CASE WHEN value >= 500 THEN 'hi' ELSE 'lo' END AS band,
              SUM(CAST(FLOOR(value) AS BIGINT)) AS s, COUNT(DISTINCT user_id) AS u
       FROM events GROUP BY 1, 2""",
    # joins + quoting + day trunc
    """SELECT date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS `day`,
              COUNT(*) AS n
       FROM events WHERE event_type <> 'view' GROUP BY 1""",
    # string ops and IN-lists pass through verbatim
    """SELECT upper(event_type) AS t, length(event_type) AS l, COUNT(*) AS n
       FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2""",
    # year()/month() field extraction maps through the EXTRACT family
    """SELECT year(ts) AS y, month(ts) AS m, COUNT(*) AS n
       FROM events GROUP BY 1, 2""",
    # window OVER: rank with unique tiebreak (null-position normalization)
    """SELECT event_id,
              row_number() OVER (PARTITION BY event_type
                                 ORDER BY value DESC, event_id) AS rn
       FROM events WHERE event_type = 'purchase'""",
    # window OVER: running integral sum with an explicit ROWS frame
    """SELECT user_id, event_id,
              SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS run_cents
       FROM events WHERE user_id div 5 = 1""",
    # window OVER: lag with explicit offset+default
    """SELECT user_id, event_id,
              CAST(FLOOR(value) AS BIGINT)
              - lag(CAST(FLOOR(value) AS BIGINT), 1, 0) OVER (
                    PARTITION BY user_id ORDER BY event_id) AS delta
       FROM events WHERE user_id div 5 = 2""",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("idx", range(len(CORPUS)))
def test_spark_duckdb_executable_equivalence(spark, idx):
    sql = CORPUS[idx]
    from defi_etl_platform_sqlglot_implementation__spark.registry import t

    t(spark, SF, "events").createOrReplaceTempView("events")
    got = _normalize(spark.sql(sql).toPandas())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'"
    )
    want = _normalize(con.execute(transpile(sql, "duckdb")).df())
    assert len(got) == len(want) > 0
    assert list(got.columns) == list(want.columns)
    # result-TYPE identity on every emitted aggregate: DuckDB SUM(BIGINT)
    # returns HUGEINT (float64 via fetchdf) unless the emission re-casts —
    # the driver's value hash distinguishes 41870 from 41870.0, so an
    # int-vs-float kind split here is a bug even when values match
    for c in got.columns:
        ki = pd.api.types.is_integer_dtype
        kf = pd.api.types.is_float_dtype
        assert ki(got[c]) == ki(want[c]) and kf(got[c]) == kf(want[c]), (
            f"col {c}: spark dtype {got[c].dtype} vs duckdb {want[c].dtype}")
    pd.testing.assert_frame_equal(
        got.astype(object), want.astype(object), check_dtype=False
    )


def test_all_dialect_emissions_parse_shaped():
    """Every dialect emission for the canonical hourly query contains the
    dialect's own idioms (spot checks on the divergent constructs)."""
    q = ("SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') "
         "AS hb, `from` AS sender FROM events "
         "WHERE ts >= current_timestamp() - INTERVAL 24 HOURS")
    out = {d: transpile(q, d) for d in DIALECTS}
    assert "strftime" in out["duckdb"] and "INTERVAL '24 hours'" in out["duckdb"]
    assert '"from"' in out["duckdb"]
    assert "TO_CHAR" in out["postgres"] and "HH24" in out["postgres"]
    assert "INTERVAL '24' HOUR" in out["trino"]
    assert "TIMESTAMP_TRUNC" in out["bigquery"]
    assert "FORMAT_TIMESTAMP" in out["bigquery"]
    assert "STR_TO_DATE" in out["mysql"] and "%i" in out["mysql"]
    assert "`from`" in out["mysql"]
    assert "CURRENT_TIMESTAMP()" in out["snowflake"]
    assert out["spark"] == q  # identity


def test_interval_singular_plural_and_trino_form():
    q = "SELECT 1 WHERE x > NOW() - INTERVAL '1 hour'"
    assert "INTERVAL 1 HOUR" in transpile(q, "spark", source="postgres")
    q2 = "SELECT 1 WHERE x > CURRENT_TIMESTAMP - INTERVAL '24' HOUR"
    assert "INTERVAL 24 HOURS" in transpile(q2, "spark", source="trino")


def test_postgres_canonical_to_spark_parses(spark):
    """The reference's flow: Postgres-dialect canonical text -> Spark. The
    emitted Spark SQL must PARSE cleanly (validate_sql returns no errors)."""
    pg = ('SELECT DATE_TRUNC(\'hour\', block_timestamp) AS hb, '
          'COUNT(DISTINCT "from") AS senders FROM token_transfers '
          "WHERE block_timestamp >= NOW() - INTERVAL '24 hours' GROUP BY 1")
    sp = transpile(pg, "spark", source="postgres")
    assert "`from`" in sp and "INTERVAL 24 HOURS" in sp
    assert sqlutil.validate_sql(spark, sp) == []


def test_extract_family_mappings():
    q = "SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d FROM t"
    pg = transpile(q, "postgres")
    assert "EXTRACT(YEAR FROM ts)" in pg and "EXTRACT(DAY FROM ts)" in pg
    assert transpile(q, "duckdb") == q  # function form shared
    # reverse: postgres EXTRACT -> spark function form
    back = transpile("SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM t",
                     "spark", source="postgres")
    assert "year(o_orderdate)" in back
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT EXTRACT(EPOCH FROM ts) FROM t", "spark",
                  source="postgres")


def test_unsupported_constructs_raise_loudly():
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT a div b FROM t", "trino")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT date_format(ts, 'yyyy-QQ') FROM t", "duckdb")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT INTERVAL 'bogus' FROM t", "duckdb")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT 1", "oracle")


def test_qualify_identifier_vs_clause():
    """ADVICE r4: only clause-position QUALIFY is a loud edge — a column
    or alias merely NAMED qualify is legal subset SQL."""
    assert transpile("SELECT qualify FROM t", "duckdb") \
        == "SELECT qualify FROM t"
    out = transpile("SELECT a, qualify, t.qualify AS q FROM t "
                    "WHERE qualify = 1", "postgres")
    assert out.count("qualify") == 3
    for q in ("SELECT x FROM t QUALIFY rn = 1",
              "SELECT a FROM t GROUP BY 1 QUALIFY COUNT(*) > 2",
              "SELECT CASE WHEN x THEN 1 ELSE 0 END QUALIFY y FROM t"):
        with pytest.raises(UnsupportedConstructError):
            transpile(q, "duckdb")


def test_string_literals_never_rewritten():
    q = "SELECT 'INTERVAL 24 HOURS' AS s, 'date_format(x)' AS f FROM t"
    assert transpile(q, "duckdb") == q


def test_plans_transpile_is_the_rule_transpiler():
    assert plans.transpile is transpile
    assert plans.DIALECTS is DIALECTS
    out = plans.transpile(
        "SELECT date_trunc('hour', ts) FROM e", "duckdb", source="spark"
    )
    assert "DATE_TRUNC('hour', ts)" in out


def test_mysql_percent_patterns_translate_or_raise():
    # %-patterns from mysql/trino sources must be TRANSLATED into Java
    # tokens (never emitted verbatim into Spark, where 'm' means minute)
    out = transpile("SELECT DATE_FORMAT(ts, '%Y-%m-%d') AS d FROM t",
                    "spark", source="mysql")
    assert "yyyy-MM-dd" in out and "%" not in out
    roundtrip = transpile("SELECT DATE_FORMAT(ts, '%H:%i:%s') AS x FROM t",
                          "duckdb", source="mysql")
    assert "%H:%M:%S" in roundtrip  # mysql %i (minute) -> strftime %M
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT DATE_FORMAT(ts, '%a') FROM t", "spark",
                  source="mysql")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT DATE_FORMAT(ts, 'at %Y') FROM t", "spark",
                  source="mysql")  # literal letters would become Java tokens


def test_spark_double_quoted_string_literal_becomes_single_quoted():
    out = transpile('SELECT "hello" AS s, "it""s" AS t FROM x', "duckdb")
    assert "'hello'" in out
    # spark "" inside "..." is a literal double-quote; subsetted out via
    # the backslash rule only — the doubled form survives as-is per token
    assert '"hello"' not in out


def test_bare_now_is_a_column_not_a_function():
    out = transpile("SELECT now, now() AS ts FROM t", "duckdb")
    assert out.startswith("SELECT now,")
    assert "NOW()" in out


# ---------------------------------------------------------------------------
# Round-3 subset widening: '::' casts, position family, approx-distinct,
# '||' on MySQL
# ---------------------------------------------------------------------------

def test_colon_cast_shorthand_normalizes_to_cast():
    out = transpile("SELECT value::BIGINT AS v, (a + b)::DOUBLE AS s FROM t",
                    "spark", source="duckdb")
    assert "CAST(value AS BIGINT)" in out
    assert "CAST((a + b) AS DOUBLE)" in out
    # per-target type spellings
    bq = transpile("SELECT x::DOUBLE, y::VARCHAR FROM t", "bigquery",
                   source="postgres")
    assert "FLOAT64" in bq and "STRING" in bq
    my = transpile("SELECT x::BIGINT, y::TEXT FROM t", "mysql",
                   source="postgres")
    assert "SIGNED" in my and "CHAR" in my
    dec = transpile("SELECT x::DECIMAL(12,2) FROM t", "spark", source="duckdb")
    assert "CAST(x AS DECIMAL(12,2))" in dec
    # qualified names and function-call operands
    q = transpile("SELECT e.val::DATE, sum(v)::VARCHAR FROM t e", "spark",
                  source="duckdb")
    assert "CAST(e.val AS DATE)" in q and "CAST(sum(v) AS STRING)" in q


def test_colon_cast_loud_edges():
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT x::FANCYTYPE FROM t", "spark", source="duckdb")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT x::BOOLEAN FROM t", "mysql", source="duckdb")


def test_position_family_mappings():
    assert "strpos(event_type, 'c')" in transpile(
        "SELECT instr(event_type, 'c') FROM t", "duckdb")
    # snowflake CHARINDEX flips argument order on both read and emit
    assert "CHARINDEX('c', name)" in transpile(
        "SELECT strpos(name, 'c') FROM t", "snowflake", source="postgres")
    assert "instr(name, 'c')" in transpile(
        "SELECT CHARINDEX('c', name) FROM t", "spark", source="snowflake")


def test_approx_distinct_family():
    assert "approx_distinct(user_id)" in transpile(
        "SELECT approx_count_distinct(user_id) FROM t", "trino")
    assert "approx_count_distinct(u)" in transpile(
        "SELECT approx_distinct(u) FROM t", "spark", source="trino")
    with pytest.raises(UnsupportedConstructError):
        transpile("SELECT approx_count_distinct(x) FROM t", "postgres")


def test_concat_pipes_on_mysql():
    out = transpile("SELECT 'a' || event_type || 'z' AS s FROM t", "mysql")
    assert "CONCAT('a', event_type, 'z')" in out
    assert "||" not in out
    # function-call and qualified operands
    out2 = transpile("SELECT upper(a) || e.b FROM t e", "mysql",
                     source="duckdb")
    assert "CONCAT(upper(a), e.b)" in out2
    # non-mysql targets keep the operator
    assert "||" in transpile("SELECT a || b FROM t", "duckdb")


def test_duckdb_to_spark_executable_roundtrip(spark):
    """Executable proof in the reverse direction: a DuckDB-dialect text
    with '::' casts and strpos runs on DuckDB, its Spark emission runs on
    Spark, and the frames match."""
    sql_duck = ("SELECT FLOOR(value)::BIGINT AS vi, "
                "strpos(event_type, 'c') AS p, COUNT(*) AS n "
                "FROM events GROUP BY 1, 2")
    from defi_etl_platform_sqlglot_implementation__spark.registry import t
    t(spark, SF, "events").createOrReplaceTempView("events")
    got = _normalize(spark.sql(transpile(sql_duck, "spark",
                                         source="duckdb")).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    want = _normalize(con.execute(sql_duck).df())
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got.astype(object), want.astype(object),
                                  check_dtype=False)


class TestWindowOverClauses:
    def test_null_position_normalized_per_source(self):
        """Spark ASC implies NULLS FIRST; DuckDB implies NULLS LAST in
        both directions; Postgres DESC implies NULLS FIRST — the rewriter
        resolves the source's implicit position to an explicit marker."""
        sql = "SELECT rank() OVER (ORDER BY x) FROM t"
        assert "ASC NULLS FIRST" in transpile(sql, "duckdb", source="spark")
        assert "ASC NULLS LAST" in transpile(sql, "spark", source="duckdb")
        desc = "SELECT rank() OVER (ORDER BY x DESC) FROM t"
        assert "DESC NULLS FIRST" in transpile(desc, "spark", source="postgres")
        assert "DESC NULLS LAST" in transpile(desc, "duckdb", source="spark")
        # explicit markers always win over the implied position
        expl = "SELECT rank() OVER (ORDER BY x DESC NULLS FIRST) FROM t"
        assert "DESC NULLS FIRST" in transpile(expl, "duckdb", source="spark")

    def test_mysql_emission_bare_or_loud(self):
        # spark ASC -> nulls first == mysql implied: emitted bare
        sql = "SELECT rank() OVER (ORDER BY x) FROM t"
        out = transpile(sql, "mysql", source="spark")
        assert "NULLS" not in out and "ORDER BY x ASC" in out
        # duckdb ASC -> nulls last != mysql implied: refused loudly
        with pytest.raises(UnsupportedConstructError):
            transpile(sql, "mysql", source="duckdb")

    def test_frame_validation(self):
        ok = ("SELECT SUM(x) OVER (ORDER BY y"
              " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
        assert "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" \
            in transpile(ok, "duckdb")
        shorthand = "SELECT SUM(x) OVER (ORDER BY y ROWS 3 PRECEDING) FROM t"
        assert "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW" \
            in transpile(shorthand, "duckdb")
        for bad in (
            "SELECT SUM(x) OVER (ORDER BY y RANGE BETWEEN 5 PRECEDING"
            " AND CURRENT ROW) FROM t",            # numeric RANGE offset
            "SELECT SUM(x) OVER (ORDER BY y GROUPS BETWEEN 1 PRECEDING"
            " AND CURRENT ROW) FROM t",            # GROUPS frames
            "SELECT lag(x) IGNORE NULLS OVER (ORDER BY y) FROM t",
            "SELECT x FROM t QUALIFY row_number() OVER (ORDER BY y) = 1",
        ):
            with pytest.raises(UnsupportedConstructError):
                transpile(bad, "duckdb")

    def test_inner_expressions_rewritten(self):
        sql = ("SELECT rank() OVER (PARTITION BY date_trunc('day', ts)"
               " ORDER BY x::bigint) FROM t")
        out = transpile(sql, "bigquery")
        assert "TIMESTAMP_TRUNC" in out and "CAST(x AS INT64)" in out

    def test_bare_over_identifier_passes_through(self):
        assert transpile("SELECT over FROM t", "duckdb") == "SELECT over FROM t"


class TestStringAggFamily:
    """Round-4 session-2 widening: STRING_AGG ↔ LISTAGG ↔ GROUP_CONCAT."""

    Q = ("SELECT g, LISTAGG(s, ',') WITHIN GROUP (ORDER BY s) AS agg "
         "FROM v GROUP BY g")

    def test_per_target_emissions(self):
        out = {d: transpile(self.Q, d) for d in
               ("duckdb", "postgres", "bigquery", "mysql", "snowflake",
                "trino")}
        for d in ("duckdb", "postgres"):
            assert "STRING_AGG(s, ',' ORDER BY s ASC NULLS FIRST)" in out[d]
        # BigQuery's AGGREGATE ORDER BY grammar has no NULLS syntax —
        # spark ASC implies NULLS FIRST, which matches BigQuery's own
        # implied position, so it emits bare (and stays valid SQL)
        assert "STRING_AGG(s, ',' ORDER BY s ASC)" in out["bigquery"]
        for d in ("snowflake", "trino"):
            assert ("LISTAGG(s, ',') WITHIN GROUP "
                    "(ORDER BY s ASC NULLS FIRST)") in out[d]
        assert "GROUP_CONCAT(s ORDER BY s ASC SEPARATOR ',')" in out["mysql"]

    def test_reverse_directions(self):
        got = transpile("SELECT STRING_AGG(s, ',' ORDER BY s DESC) FROM v",
                        "spark", source="postgres")
        # postgres DESC implies NULLS FIRST — carried explicitly to Spark
        assert ("LISTAGG(s, ',') WITHIN GROUP "
                "(ORDER BY s DESC NULLS FIRST)") in got
        got = transpile(
            "SELECT GROUP_CONCAT(s ORDER BY s SEPARATOR ';') FROM v",
            "duckdb", source="mysql")
        assert "STRING_AGG(s, ';' ORDER BY s ASC NULLS FIRST)" in got

    def test_loud_edges(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
        )

        with pytest.raises(UnsupportedConstructError):   # unordered
            transpile("SELECT STRING_AGG(s, ',') FROM v", "duckdb",
                      source="postgres")
        with pytest.raises(UnsupportedConstructError):   # no WITHIN GROUP
            transpile("SELECT LISTAGG(s, ',') FROM v", "duckdb")
        with pytest.raises(UnsupportedConstructError):   # DISTINCT
            transpile("SELECT STRING_AGG(DISTINCT s, ',' ORDER BY s) FROM v",
                      "duckdb", source="postgres")
        with pytest.raises(UnsupportedConstructError):   # non-literal sep
            transpile("SELECT LISTAGG(s, sep_col) WITHIN GROUP (ORDER BY s) "
                      "FROM v", "mysql")
        with pytest.raises(UnsupportedConstructError):   # mysql NULLS gap
            transpile("SELECT LISTAGG(s, ',') WITHIN GROUP "
                      "(ORDER BY s NULLS LAST) FROM v", "mysql")
        with pytest.raises(UnsupportedConstructError):   # bigquery agg gap
            transpile("SELECT STRING_AGG(s, ',' ORDER BY s) FROM v",
                      "bigquery", source="postgres")
        with pytest.raises(UnsupportedConstructError):   # group_concat arity
            transpile("SELECT GROUP_CONCAT(a, b ORDER BY i SEPARATOR ' ') "
                      "FROM v", "duckdb", source="mysql")

    def test_executed_equivalence_both_directions(self, spark):
        import duckdb

        spark.createDataFrame(
            [(i % 3, "s%d" % (i % 5)) for i in range(40)],
            "g int, s string").createOrReplaceTempView("v")
        want = [(r.g, r.agg) for r in sorted(
            spark.sql(self.Q).collect(), key=lambda r: r.g)]
        con = duckdb.connect()
        con.execute("CREATE TABLE v AS SELECT (i % 3)::INT AS g, "
                    "'s' || (i % 5) AS s FROM range(40) t(i)")
        got = con.execute(
            transpile(self.Q, "duckdb") + " ORDER BY g").fetchall()
        assert [(g, a) for g, a, _ in
                [(r[0], r[1], None) for r in got]] == want

    def test_explicit_nulls_marker_is_consumed_not_duplicated(self):
        """Regression (found adding this family): explicit NULLS markers
        in ORDER BY items were missed behind interior whitespace tokens,
        so emission carried both the original marker and a synthesized
        direction — invalid SQL like 'x DESC NULLS FIRST ASC NULLS
        FIRST'."""
        out = transpile(
            "SELECT rank() OVER (ORDER BY x DESC NULLS FIRST) FROM t",
            "duckdb")
        assert out.count("NULLS") == 1 and out.count("DESC") == 1
        out = transpile(
            "SELECT rank() OVER (ORDER BY x NULLS LAST) FROM t", "duckdb")
        assert "ASC NULLS LAST" in out and out.count("NULLS") == 1


class TestSessionOneReviewRegressions:
    """Pins for the session-1 review fixes (third pass)."""

    def test_named_window_reference_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
        )

        # OVER (w) must refuse loudly, not silently become OVER ()
        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT SUM(x) OVER (w) FROM t "
                      "WINDOW w AS (PARTITION BY g)", "duckdb")
        # the empty spec stays fine
        assert "OVER ()" in transpile("SELECT rank() OVER () FROM t",
                                      "duckdb")

    def test_fractional_rows_bound_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
        )

        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT SUM(x) OVER (ORDER BY y ROWS 3.5 PRECEDING) "
                      "FROM t", "duckdb")

    def test_segment_slicing_ignores_identical_earlier_tokens(self):
        # a column literally named 'rows' inside the ORDER BY expression
        # must not be mistaken for the frame keyword (Tok value-equality
        # body.index bug)
        out = transpile(
            "SELECT SUM(x) OVER (ORDER BY coalesce(y, rows) "
            "rows 2 PRECEDING) FROM t", "duckdb")
        assert "coalesce(y, rows)" in out
        assert "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW" in out


class TestRoundFiveReviewRegressions:
    """Pins for the round-5 review findings: the integral-SUM cast wrap
    must compose with FILTER and refuse named windows loudly; QUALIFY
    after a clause-terminal keyword (GROUP BY ALL) stays loud."""

    def test_integral_sum_filter_clause_wraps_whole_call(self):
        import duckdb

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        out = transpile(
            "SELECT SUM(CAST(x AS INT)) FILTER (WHERE y > 0) AS s FROM t",
            "duckdb")
        assert "CAST(SUM(CAST(x AS INT)) FILTER (WHERE y > 0) AS BIGINT)" \
            in out
        # and the emission actually executes on the target engine
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 1), "
                    "(2, 0), (3, 1)) v(x, y)")
        val, = con.execute(out).fetchone()
        assert val == 4
        # BIGINT materializes as int64 (HUGEINT would come back float64 —
        # the exact dtype-split the cast rule exists to prevent)
        assert str(con.execute(out).fetchdf().dtypes.iloc[0]) == "int64"

    def test_integral_sum_filter_over_composes(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        out = transpile(
            "SELECT SUM(CAST(x AS INT)) FILTER (WHERE y > 0) "
            "OVER (PARTITION BY g) FROM t", "duckdb")
        assert ("CAST(SUM(CAST(x AS INT)) FILTER (WHERE y > 0) "
                "OVER (PARTITION BY g) AS BIGINT)") in out

    def test_bare_named_window_reference_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
        )

        for q in (
            "SELECT SUM(CAST(x AS INT)) OVER w FROM t WINDOW w AS (ORDER BY y)",
            "SELECT AVG(x) OVER w FROM t WINDOW w AS (ORDER BY y)",
        ):
            with pytest.raises(UnsupportedConstructError):
                transpile(q, "duckdb")
        # a column literally named over stays legal
        assert transpile("SELECT over FROM t", "postgres") \
            == "SELECT over FROM t"
        assert transpile("SELECT a.over FROM t a", "postgres") \
            == "SELECT a.over FROM t a"

    def test_qualify_after_group_by_all_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
        )

        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT a FROM t GROUP BY ALL QUALIFY COUNT(*) > 1",
                      "duckdb")
        # identifier positions stay legal
        assert transpile("SELECT qualify FROM t", "duckdb") \
            == "SELECT qualify FROM t"


class TestFilterRewriteAndCastMapping:
    """FILTER -> CASE on targets without a FILTER clause, and type
    mapping for the CAST(expr AS type) function form (the `::` shorthand
    always mapped; the function form leaked source spellings)."""

    def test_filter_rewrites_to_case_on_no_filter_targets(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        q = "SELECT SUM(x) FILTER (WHERE y > 0) FROM t"
        for tgt in ("mysql", "bigquery", "snowflake"):
            assert transpile(q, tgt) == \
                "SELECT SUM(CASE WHEN y > 0 THEN x END) FROM t"
        # targets WITH the clause keep it
        for tgt in ("duckdb", "postgres", "trino"):
            assert "FILTER (WHERE y > 0)" in transpile(q, tgt)

    def test_filter_count_star_and_distinct(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        assert transpile("SELECT COUNT(*) FILTER (WHERE y > 0) FROM t",
                         "mysql") == \
            "SELECT COUNT(CASE WHEN y > 0 THEN 1 END) FROM t"
        assert transpile(
            "SELECT COUNT(DISTINCT u) FILTER (WHERE y > 0) FROM t",
            "bigquery") == \
            "SELECT COUNT(DISTINCT CASE WHEN y > 0 THEN u END) FROM t"

    def test_filter_composes_with_integral_sum_widening(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        out = transpile(
            "SELECT SUM(CAST(x AS INT)) FILTER (WHERE y > 0) FROM t",
            "mysql")
        # CASE rewrite INSIDE the widening re-cast, inner cast mapped
        assert out == ("SELECT CAST(SUM(CASE WHEN y > 0 "
                       "THEN CAST(x AS SIGNED) END) AS SIGNED) FROM t")

    def test_filter_without_where_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
            transpile,
        )

        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT SUM(x) FILTER (y > 0) FROM t", "mysql")
        with pytest.raises(UnsupportedConstructError):
            # no CASE rewrite for order-sensitive aggregates
            transpile("SELECT string_agg(x, ',' ORDER BY x) "
                      "FILTER (WHERE y > 0) FROM t", "mysql")
        # a column named filter stays legal
        assert transpile("SELECT filter FROM t", "mysql") == \
            "SELECT filter FROM t"

    def test_cast_function_form_maps_types(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        assert transpile("SELECT CAST(x AS INT) FROM t", "mysql") == \
            "SELECT CAST(x AS SIGNED) FROM t"
        assert transpile("SELECT CAST(x AS STRING) FROM t", "postgres") == \
            "SELECT CAST(x AS VARCHAR) FROM t"
        assert transpile("SELECT CAST(x AS DOUBLE) FROM t", "postgres") == \
            "SELECT CAST(x AS DOUBLE PRECISION) FROM t"
        assert transpile("SELECT CAST(x AS TIMESTAMP) FROM t", "mysql") == \
            "SELECT CAST(x AS DATETIME) FROM t"
        # parameterized + nested expr with its own AS stay correct
        assert transpile("SELECT CAST(x AS DECIMAL(12,2)) FROM t",
                         "mysql") == \
            "SELECT CAST(x AS DECIMAL(12,2)) FROM t"
        assert transpile(
            "SELECT CAST((SELECT a AS b FROM u) AS INT) FROM t",
            "mysql") == \
            "SELECT CAST((SELECT a AS b FROM u) AS SIGNED) FROM t"

    def test_cast_boolean_mysql_stays_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
            transpile,
        )

        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT CAST(x AS BOOLEAN) FROM t", "mysql")


class TestSecondPassReviewRegressions:
    """Round-5 second review pass: multi-arg FILTER loudness, CAST
    function-form leniency for unmapped portable types."""

    def test_multiarg_filter_rewrite_is_loud(self):
        import pytest

        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            UnsupportedConstructError,
            transpile,
        )

        with pytest.raises(UnsupportedConstructError):
            transpile("SELECT COUNT(DISTINCT a, b) FILTER (WHERE c) FROM t",
                      "mysql")
        # nested commas (function args) stay fine
        assert transpile(
            "SELECT SUM(coalesce(a, 0)) FILTER (WHERE c) FROM t",
            "mysql") == \
            "SELECT SUM(CASE WHEN c THEN coalesce(a, 0) END) FROM t"

    def test_cast_unmapped_types_pass_through(self):
        from defi_etl_platform_sqlglot_implementation__spark.plans.transpiler import (
            transpile,
        )

        # portable spellings absent from the map keep working (they did
        # before the CAST branch existed)
        assert transpile("SELECT CAST(x AS FLOAT) FROM t", "duckdb") == \
            "SELECT CAST(x AS FLOAT) FROM t"
        # a known word with an unmodelled suffix also keeps its spelling
        assert transpile(
            "SELECT CAST(x AS TIMESTAMP WITH TIME ZONE) FROM t",
            "mysql") == \
            "SELECT CAST(x AS TIMESTAMP WITH TIME ZONE) FROM t"
