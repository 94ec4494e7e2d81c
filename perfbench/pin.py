#!/usr/bin/env python3
"""Re-pins the catalog workload's expected results.

Usage (from the repository root): python3 perfbench/pin.py

Runs every SparkEntry query twice over the benchmark's sf0.1 tables
(perfbench/data/sf0.1, perfbench.Main --pin), cross-checks each result that has a
real-SQL DuckDB oracle against DuckDB on the same tables (columns sorted
by name, rows in emitted order, exact values), and writes
perfbench/pins/catalog.tsv: name, family, order-insensitive result hash,
oracle verdict, whether two runs hashed the same, and whether the timed
catalog workload runs the query. Run it only when a query's output is
meant to change, and say why in the change that commits the new pins.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# The benchmark's own family map (catalog.<family>_s sums these).
FAMILIES = {
    "agg": "a1_sum a2_count a3_group_count a4_minmaxavg a5_histogram a6_pricing_summary "
           "a7_daily_resample a13_metrics a9_longest_run a14_budget set_distinct set_union "
           "percentiles rollup_stats cube_stats heavy_hitters approx_distinct "
           "stratified_sample mix_temperature zscore array_setops",
    "predicate": "s1_scan p1_projection p2_rename p3_eq_filter p4_conjunction p5_date_range "
                 "p6_keyword_or p7_regex_parse p10_null_mask p11_length_guard p9_anchor "
                 "domain_filter",
    "join": "j1_equijoin j2_multiway j4_semijoin asof_join range_join q3_shipping "
            "j3_date_spine salted_join j2_context",
    "window": "w1_topk w2_topn_docs w3_latest_per_key w4_recent_n w5_sliding w6_lag_trend "
              "w7_rank_per_group sort_multikey w9_distribution w8_roundrobin w5_windows",
    "text": "json_extract text_tokens text_quality lang_stopwords chunk_count doc_fingerprint "
            "ingest_chunks webrag_pipeline ingest_bulk rag_answer_post langid_confusion "
            "quality_scores repetition_stats lm_score tfidf_terms bm25_search url_canonical "
            "pii_scrub multimodal_decode mm_frames str_functions ko_format from_json_props "
            "pack_sequences",
    "dedup": "dedup_exact simhash_sketch minhash_bands jaccard_adjacent simhash_neardups "
             "contamination minhash_neardups embed_neardups dedup_clusters index_append_dedup",
    "vector": "v1_knn v2_knn_norm v3_margin v4_diversify sql_knn a12_l2branch rag_sources "
              "ann_ivf ann_autoswap ann_pq",
    "timeseries": "date_parts seasonal_features a8_interpolate a15_trend sessionize ratio_split "
                  "seasonal_naive forecast_ridge quality_classifier forecast_ar "
                  "forecast_pipeline s8_randomwalk date_functions",
    "streaming": "st1_sse st3_flush st5_progress st_dedup st_watermark st4_rechunk "
                 "st6_accumulate st_segment",
    "sources": "s3_catalog yahoo_chart grocery_minmax grocery_beststore news_top rss_items "
               "fruit_csv s10_append s11_crud s2_jdbc s2_mysql_types tool_calls",
}
FAMILY = {q: f for f, qs in FAMILIES.items() for q in qs.split()}

# The timed subset, which each catalog run also checks against its pins:
# one query per family, plus index_append_dedup for the ingest -> sinks ->
# dedup write path. A pass over all 130 queries costs about 85 s warm and
# 150 s cold on a 4-core box, beyond one run's 180 s; every query is still
# pinned and DuckDB-checked here.
TIMED = set("""
a6_pricing_summary p6_keyword_or q3_shipping w3_latest_per_key tfidf_terms
dedup_exact v4_diversify sessionize st_watermark s3_catalog index_append_dedup
""".split())


def oracle_check(data, out):
    """DuckDB verdict per query with a real-SQL oracle over the tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    run.duckdb_views(con, data)
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    real = run.real_sql(sqls)
    verdict = {}
    for name, sql in sorted(sqls.items()):
        if name not in real:
            verdict[name] = "no-real-oracle"
            continue
        res = os.path.join(out, "results", name)
        if not os.path.isdir(res):
            verdict[name] = "engine-error"
            continue
        s = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf()
        try:
            o = con.execute(sql).fetchdf()
        except duckdb.Error as e:
            verdict[name] = "oracle-error"
            print(f"{name}: oracle error {e}", file=sys.stderr)
            continue
        s, o = s[sorted(s.columns)], o[sorted(o.columns)]
        bad = None
        if list(s.columns) != list(o.columns):
            bad = f"columns {list(s.columns)} vs {list(o.columns)}"
        elif len(s) != len(o):
            bad = f"rows {len(s)} vs {len(o)}"
        else:
            for c in s.columns:
                a, b = s[c].astype(str).values, o[c].astype(str).values
                if (a != b).any():
                    i = (a != b).argmax()
                    bad = f"col {c} row {i}: engine={a[i]!r} duckdb={b[i]!r}"
                    break
        verdict[name] = "duckdb-ok" if bad is None else "duckdb-MISMATCH"
        if bad:
            print(f"{name}: {bad}", file=sys.stderr)
    return verdict


def main():
    run.build(run.source_stamp())
    out = os.path.join(run.WORK, "pin")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = run.run_jvm(["--pin", run.DATA, out], 1500, "pin.log")
    if rc != 0:
        sys.exit(f"pin run failed; see {run.WORK}/pin.log")
    verdict = oracle_check(run.DATA, out)
    rows = []
    for line in open(os.path.join(out, "hashes.tsv")):
        name, h, stable, nrows = line.rstrip("\n").split("\t")[:4]
        if name not in FAMILY:
            sys.exit(f"query {name} has no family in pin.py")
        rows.append("\t".join([name, FAMILY[name], h, verdict.get(name, "no-oracle"),
                               "stable" if stable == "true" else "UNSTABLE",
                               "timed" if name in TIMED else "pinned"]))
    missing = TIMED - {r.split("\t")[0] for r in rows}
    if missing:
        sys.exit(f"timed queries not registered: {sorted(missing)}")
    with open(run.PINS, "w") as f:
        f.write("# name\tfamily\tresult hash\toracle\ttwo runs\tworkload role\n")
        f.write("# written by perfbench/pin.py over perfbench/data/sf0.1\n")
        f.write("\n".join(sorted(rows)) + "\n")
    print(f"pinned {len(rows)} queries; "
          f"{sum(v == 'duckdb-ok' for v in verdict.values())} DuckDB-checked ok, "
          f"{sum(v == 'duckdb-MISMATCH' for v in verdict.values())} mismatched")


if __name__ == "__main__":
    main()
