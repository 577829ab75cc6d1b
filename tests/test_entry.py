"""Driver-contract smoke tests: entry() + registry integrity."""

from __future__ import annotations

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_every_oracle_key_has_query():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_queries_run_nonempty_sample(spark):
    qs = E.queries()
    for name in ["q1_pricing_summary", "union_mismatched_entities", "text_token_stats",
                 "sim_cosine_topk", "events_sessionize"]:
        df = qs[name](spark, SF_DIR)
        assert df.count() > 0, name


def test_cli_query_and_pipeline(spark, tmp_path, capsys):
    from ug_dwh_etl_spark.__main__ import main

    assert main(["query", "macro_url_levels", "--sf-dir", "/root/testdata/sf0.001", "--limit", "2"]) == 0
    assert main(["pipeline", "e5", "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path)]) == 0
    # a history table: appended under its warehouse name, stamped
    landed = spark.read.parquet(str(tmp_path / "bq_orphan_urls"))
    assert landed.count() > 0
    assert "crawl_date" in landed.columns
    assert any((tmp_path / "bq_orphan_urls").glob("crawl_date=*"))
    assert main(["list"]) == 0
    assert "q1_pricing_summary" in capsys.readouterr().out


def test_every_oracle_parses_in_duckdb():
    # cheap syntactic guard: EXPLAIN each oracle against views over the
    # real fixture files, so a typo'd oracle fails in milliseconds
    # instead of at the driver's gate
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    bad = []
    for name, sql in E.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e).splitlines()[0]))
    assert not bad, bad


def test_cheapest_first_names_all_registered():
    # the ordering list is respliced from timing runs — a typo or a
    # renamed query would silently fall back to registry order; every
    # listed name must exist, and the ordering must cover the registry
    # minus at most the handful of queries added since the last splice
    import __spark_entry__ as E
    from ug_dwh_etl_spark.queries import QUERIES

    listed = set(E._CHEAPEST_FIRST)
    registered = set(QUERIES)
    assert listed <= registered, f"stale names: {sorted(listed - registered)}"
    missing = registered - listed
    assert len(missing) <= 5, f"resplice the ordering: {sorted(missing)}"
    # ordering has no duplicates
    assert len(E._CHEAPEST_FIRST) == len(listed)
