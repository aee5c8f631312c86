"""Derived TPC-DS snowflake (sources/tpcds.py) + verbatim-text pack.

The snowflake is a deterministic portable-SQL mapping over the base
fixture tables; these tests pin the properties the DS pack's oracle
parity relies on: the Zeller weekday (the one non-EXTRACT-portable
field), the CTE composition contract, the materialized-parquet ==
view-derivation equivalence, and the returns ⊂ sales channel invariant.
"""

import datetime

import pytest

from check_correctness import duck_connection
from spark_s3_shuffle_spark.sources import tpcds


def test_zeller_dow_matches_calendar(spark, sf_dir):
    """d_dow comes from Zeller's congruence because EXTRACT(dow) is not
    engine-portable (Spark 1..7 Sunday-based vs DuckDB 0..6). Every
    date_dim row must agree with the real calendar (0=Sunday)."""
    tpcds.register_ds_views(spark, sf_dir)
    rows = spark.table("date_dim").select("d_date", "d_dow", "d_day_name").collect()
    assert rows
    names = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday",
             "Friday", "Saturday"]
    for r in rows:
        d = r["d_date"]
        if isinstance(d, datetime.datetime):
            d = d.date()
        want = (d.weekday() + 1) % 7  # python Mon=0 -> 0=Sunday
        assert r["d_dow"] == want, (d, r["d_dow"], want)
        assert r["d_day_name"] == names[want]


def test_compose_merges_with_bodies():
    """compose() folds a body's leading WITH into the prologue's, and
    only prepends the views the body references."""
    plain = tpcds.compose("SELECT COUNT(*) AS n FROM item")
    assert plain.lstrip().upper().startswith("WITH ITEM AS")
    assert "store_sales" not in plain

    withy = tpcds.compose(
        "WITH t AS (SELECT i_item_sk FROM item) SELECT COUNT(*) AS n FROM t"
    )
    # exactly ONE top-level WITH keyword
    assert withy.upper().count("WITH ") == 1
    assert "t AS (" in withy

    # no DS reference -> untouched
    assert tpcds.compose("SELECT 1 AS x") == "SELECT 1 AS x"


def test_materialized_parquet_replays_view_derivation(spark, sf_dir, tmp_path):
    """make_fixtures.py --tpcds writes each DS table as parquet; the
    files must replay the live view derivation row-for-row (both
    directions of exceptAll empty) — the fixture and the CTE prologue
    are the same relation."""
    out = str(tmp_path / "ds")
    counts = tpcds.materialize(spark, sf_dir, out)
    assert set(counts) == set(tpcds.DS_VIEWS)
    for name in ("date_dim", "item", "store_sales", "store_returns"):
        view = spark.table(name)
        pq = spark.read.parquet(f"{out}/{name}.parquet")
        assert pq.count() == counts[name] > 0
        assert view.exceptAll(pq).count() == 0, name
        assert pq.exceptAll(view).count() == 0, name


def test_returns_are_subset_of_sales(spark, sf_dir):
    """Channel invariant the (ticket, item)-grain joins rely on: every
    returns row is a sales row (the l_returnflag='R' subset), so the
    grain aggregate of returns never exceeds the sales aggregate."""
    tpcds.register_ds_views(spark, sf_dir)
    for sp, rp, sales, rets in (
        ("ss", "sr", "store_sales", "store_returns"),
        ("cs", "cr", "catalog_sales", "catalog_returns"),
        ("ws", "wr", "web_sales", "web_returns"),
    ):
        s = spark.table(sales).groupBy(
            f"{sp}_ticket_number", f"{sp}_item_sk"
        ).count().withColumnRenamed("count", "n_s")
        r = spark.table(rets).groupBy(
            f"{rp}_ticket_number", f"{rp}_item_sk"
        ).count().withColumnRenamed("count", "n_r")
        joined = r.join(
            s,
            (r[f"{rp}_ticket_number"] == s[f"{sp}_ticket_number"])
            & (r[f"{rp}_item_sk"] == s[f"{sp}_item_sk"]),
            "left_outer",
        )
        assert joined.filter("n_s IS NULL OR n_r > n_s").count() == 0, sales


def test_ds_pack_registered_with_oracles():
    """All 99 DS text entries exist (20 r7 + 29 r8 + 50 r9), each with
    a composed oracle equal to the Spark-side text (the same-string
    contract)."""
    from spark_s3_shuffle_spark.queries.registry import QUERIES
    from spark_s3_shuffle_spark.queries.tpcds_text import DS_BODIES

    assert len(DS_BODIES) == 99
    for name, (body, _doc) in DS_BODIES.items():
        assert name in QUERIES, name
        assert QUERIES[name].oracle == tpcds.compose(body), name


@pytest.mark.parametrize(
    "q", ["q223_sql_text_ds5", "q233_sql_text_ds49", "q238_sql_text_ds67"]
)
def test_headline_ds_smoke(spark, sf_dir, q):
    """The reference's headline DS queries (q5, q49, q67) run
    end-to-end on the smoke fixture."""
    from spark_s3_shuffle_spark.queries.registry import QUERIES

    df = QUERIES[q].builder(spark, sf_dir)
    assert df.count() >= 0


def test_customer_first_dates_are_real_calendar_rows(spark, sf_dir):
    """The round-9 c_first_sales_date_sk / c_first_shipto_date_sk are the
    customer's ACTUAL first and second-earliest order dates (equal for
    single-order customers): both resolve in date_dim (ds64's d2/d3
    joins are lossless), ordered first <= shipto, and first_sales equals
    yyyymmdd(MIN(o_orderdate)) per customer."""
    tpcds.register_ds_views(spark, sf_dir)
    bad = spark.sql("""
        SELECT COUNT(*) AS n FROM customer
        WHERE c_first_sales_date_sk > c_first_shipto_date_sk
           OR c_first_sales_date_sk NOT IN (SELECT d_date_sk FROM date_dim)
           OR c_first_shipto_date_sk NOT IN (SELECT d_date_sk FROM date_dim)
    """).collect()[0]["n"]
    assert bad == 0
    mismatch = spark.sql("""
        SELECT COUNT(*) AS n
        FROM customer c
        JOIN (SELECT o_custkey,
                     CAST(EXTRACT(year FROM MIN(CAST(o_orderdate AS DATE))) * 10000
                          + EXTRACT(month FROM MIN(CAST(o_orderdate AS DATE))) * 100
                          + EXTRACT(day FROM MIN(CAST(o_orderdate AS DATE))) AS INT) AS first_sk
              FROM orders GROUP BY o_custkey) o
          ON c.c_customer_sk = o.o_custkey
        WHERE c.c_first_sales_date_sk <> o.first_sk
    """).collect()[0]["n"]
    assert mismatch == 0


def test_ds_pack_covers_all_99_official_numbers():
    """Every official TPC-DS query number 1..99 runs as SQL text: 98
    verbatim pack entries (ds14 as its two official variants a/b) plus
    the ds23 front door (q132b in the registry)."""
    import re
    from spark_s3_shuffle_spark.queries.registry import QUERIES
    from spark_s3_shuffle_spark.queries.tpcds_text import DS_BODIES

    covered = set()
    for name in DS_BODIES:
        m = re.search(r"_ds(\d+)[ab]?$", name)
        assert m, name
        covered.add(int(m.group(1)))
    assert "q132b_sql_text_ds23" in QUERIES
    covered.add(23)
    assert covered == set(range(1, 100)), sorted(set(range(1, 100)) - covered)


def test_ds64_preagg_grain_deviation_is_confined(sf_dir):
    """ds64 (round-10, per round-9 advice): the cs_ui legs pre-aggregate
    both catalog channels to the (item, order) grain before joining,
    where the official text joins raw rows then aggregates. This pins
    the fixture assumption that makes the adaptation honest:

    1. the fixture's (item, order) grain genuinely repeats on both
       channel sides (the restructure is load-bearing — the official
       join-then-agg form would multiply sale lines by return lines);
    2. the deviation is EXACTLY confined to repeated-grain items: on
       every item whose matched (item, order) pairs are unique on both
       sides, pre-agg-then-join and join-then-agg sums agree to the
       cent, and every differing item touches a repeated grain.
    """
    con = duck_connection(sf_dir)
    sql = tpcds.compose("""
WITH official AS (
  SELECT cs_item_sk AS item, SUM(cs_ext_list_price) AS sale,
         SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit) AS refund
  FROM catalog_sales, catalog_returns
  WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
  GROUP BY 1),
preagg AS (
  SELECT g.cs_item_sk AS item, SUM(g.elp) AS sale, SUM(r.rf) AS refund
  FROM (SELECT cs_item_sk, cs_order_number, SUM(cs_ext_list_price) AS elp
        FROM catalog_sales GROUP BY 1,2) g
  JOIN (SELECT cr_item_sk, cr_order_number,
               SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit) AS rf
        FROM catalog_returns GROUP BY 1,2) r
    ON g.cs_item_sk = r.cr_item_sk AND g.cs_order_number = r.cr_order_number
  GROUP BY 1),
dup_items AS (
  SELECT DISTINCT item FROM (
    SELECT cs_item_sk AS item FROM catalog_sales cs
    WHERE EXISTS (SELECT 1 FROM catalog_returns cr
                  WHERE cr.cr_item_sk = cs.cs_item_sk
                    AND cr.cr_order_number = cs.cs_order_number)
    GROUP BY cs_item_sk, cs_order_number HAVING COUNT(*) > 1
    UNION ALL
    SELECT cr_item_sk AS item FROM catalog_returns
    GROUP BY cr_item_sk, cr_order_number HAVING COUNT(*) > 1) t),
diff AS (
  SELECT o.item FROM official o JOIN preagg p ON o.item = p.item
  WHERE o.sale <> p.sale OR o.refund <> p.refund)
SELECT (SELECT COUNT(*) FROM dup_items) AS n_dup_items,
       (SELECT COUNT(*) FROM diff) AS n_diff,
       (SELECT COUNT(*) FROM diff
        WHERE item NOT IN (SELECT item FROM dup_items)) AS diff_outside_dup,
       (SELECT COUNT(*) FROM official) AS n_items
""")
    n_dup_items, n_diff, diff_outside_dup, n_items = con.execute(sql).fetchone()
    assert n_dup_items > 0, "fixture grain no longer repeats — ds64's pre-agg restructure is now cosmetic; re-verify vs the official form"
    assert diff_outside_dup == 0, "pre-agg deviates on a unique-grain item — the forms are no longer comparable"
    assert n_diff <= n_dup_items
    assert n_items > n_dup_items, "deviation covers every item — adaptation no longer confined"


def test_ds14b_week_lookup_nonempty(sf_dir):
    """ds14b (round-10, per round-9 advice): its d_week_seq scalar
    subqueries (Oct 11 of 1996/1997) return NULL if that calendar date
    drifts out of the fixture's observed order/ship dates — both legs
    then go empty and the oracle comparison trivially passes while
    testing nothing. Pin both: the week lookups resolve on the smoke
    fixture, and the full official text is non-empty at sf0.01 — the
    smallest SF the driver's oracle gate actually sweeps (at sf0.001
    the HAVING > all-channel-average filter legitimately empties the
    legs; the gate never runs there)."""
    import os

    from spark_s3_shuffle_spark.queries.registry import QUERIES

    con = duck_connection(sf_dir)
    for year in (1996, 1997):
        wk = con.execute(tpcds.compose(
            f"SELECT d_week_seq FROM date_dim WHERE d_year = {year} AND d_moy = 10 AND d_dom = 11"
        )).fetchall()
        assert len(wk) == 1 and wk[0][0] is not None, (
            f"Oct 11 {year} missing from date_dim — ds14b legs would go empty"
        )
    gate_sf = "/root/testdata/sf0.01"
    if not os.path.isdir(gate_sf):
        pytest.skip("oracle-gate fixture not present")
    rows = duck_connection(gate_sf).execute(QUERIES["q316_sql_text_ds14b"].oracle).fetchall()
    assert len(rows) > 0, "ds14b returned no rows at the oracle-gate SF — fixture drift degraded the query"
