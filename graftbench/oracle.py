#!/usr/bin/env python3
"""Expected results for the graft benchmark, from the repo's own DuckDB
oracle SQL (graft.SparkEntry.oracleSql, dumped by build.py) run over the
generated documents.parquet.

crawl_deep  expected.parquet: the crawl_list oracle (every list item of
            every document), in the (crawl, doc_id, page_no, pos, payload)
            form the benchmark digests crawl output in; for traced runs
            also oracle_<query>.parquet of the pipeline probe's queries
            (dedup_clusters, pagerank_hosts, crawl_rank_prioritized) as the
            oracle returns them.
crawl_wide  nothing: the generator wrote the planted items itself.
"""
import json
import os

import duckdb

SEP = "\x1f"
PIPELINE_QUERIES = ["dedup_clusters", "pagerank_hosts", "crawl_rank_prioritized"]
LIST_FIELDS = ["title", "link", "date_s", "snip"]


def write_expected(workload, data_dir, out_dir, oracle_json, traced):
    os.makedirs(out_dir, exist_ok=True)
    if workload == "crawl_wide":
        return
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    docs = os.path.join(data_dir, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")

    def copy(sql, name):
        con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, name)}' (FORMAT PARQUET)")

    if workload != "crawl_deep":
        raise ValueError(f"unknown workload {workload!r}")
    payload = f"||'{SEP}'||".join(LIST_FIELDS)
    copy(f"SELECT 'list' AS crawl, doc_id, page_no, pos, {payload} AS payload "
         f"FROM ({oracle['crawl_list']})", "expected.parquet")
    if traced:
        for q in PIPELINE_QUERIES:
            copy(oracle[q], f"oracle_{q}.parquet")
