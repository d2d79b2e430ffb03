#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced through the ``noop`` sink so the full plan (including
formatting projections) executes without driver-side collection cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# The r02-era stable core: totals over THIS list are comparable round over
# round (BENCH JSON emits it as shared_subtotal); additions below only
# grow the full total.
SHARED_QUERIES = [
    "pricing_summary",
    "transfer_volume_hourly",
    "swap_price_impact",
    "block_agg_daily",
    "region_enrichment",
    "order_lineitem_pairing",
    "shipping_priority",
    "local_supplier_volume",
    "asof_price_join",
    "rolling_p90",
    "rolling_var_cvar",
    "mev_scores",
    "dedup_minhash_lsh",
    "similarity_topk",
    "text_profile",
    "bm25_search",
    "scd2_history",
    "ewma_user_value",
]

BENCH_QUERIES = SHARED_QUERIES + [
    # session-2 additions: one representative per new family (TPC-H wave 4,
    # hybrid retrieval, media dedup, SemDeDup, CMS sketch, blocked fuzzy,
    # z-order).
    "returned_item_customers",
    "hybrid_search_rrf",
    "image_ahash_pairs",
    "semdedup_pairs",
    "token_freq_cms",
    "fuzzy_customer_pairs",
    "zorder_locality",
    # session-2 additions: one representative per new family (quality
    # rules, kNN eval, tokenizer application, composed curation).
    "gopher_quality_flags",
    "knn_label_accuracy",
    "bpe_encode_segments",
    "curation_pipeline_v2",
    # round-5 additions: one representative per new family (training-data
    # prep windows, eval-leakage audit, trained-cluster QC).
    "sequence_packing",
    "split_leakage_pairs",
    "cluster_distance_outliers",
    # round-5 session-4: the pair-cosine perf headliner (vectorized exact
    # fold + one-shot CC edge materialization; 1915s -> 426s at sf1).
    "dedup_embedding_canonical",
    # round-7 wave-14: one representative per new family (URL-level dedup,
    # paragraph dedup + reassembly, incremental decontamination).
    "url_domain_dedup",
    "paragraph_dedup_reassembly",
    "decontamination_incremental",
    # round-8 wave-16: the cross-modal fusion representative (its two
    # halves are already benched via image_ahash_pairs + dedup_minhash_lsh).
    "cross_modal_dedup",
    # round-8 waves 29-31: one representative per new family (grouped-
    # kernel MMR rerank, spine-decomposed quality x dup composition,
    # source-partitioned corpus statistics).
    "mmr_diverse_selection",
    "quality_dup_quartiles",
    "zipf_fit_by_source",
    # round-9 (VERDICT r8 #6): the SCALE-path twins of the two
    # reference-parity unpartitioned windows — benched so the form a 100 TB
    # deployment would actually run is tracked round over round, not just
    # the single-partition parity form.
    "rolling_p90_partitioned",
    "rolling_var_cvar_partitioned",
    # round-9 waves 32-40: one representative per new family (the
    # multi-strategy dedup dividend — CC composition, the capped-eval
    # retrieval family's linear scan, the crossed-marginal datasheet
    # cascade, the banded-LSH cost monitor).
    "dedup_token_savings",
    "knn_label_accuracy_capped_eval",
    "source_lang_datasheet",
    "lsh_bucket_skew",
    # round-10 waves 42-44: one representative per new family (the
    # suffix-array-style repeat classes over the shared shingle shuffle;
    # the graph-ANN build + 3 beam chains over one persisted graph).
    "maximal_repeat_inventory",
    "graph_ann_recall_curve",
    # round-11 waves 46-47: one representative per new family (the
    # IVF-bucketed two-stage graph construction — shuffle-free broadcast
    # pairing; the class-granular cut plan over the span machinery).
    "graph_ann_two_stage",
    "repeat_class_cut_plan",
    # round-11 waves 48-50: the keep-policy capstone (CC chain + three
    # policy windows + pairwise folds), the PQ rerank-depth curve (one
    # ADC pass prefix-sliced), and the codebook-size curve (three
    # map-only Arrow assignments + cell folds).
    "keep_policy_matrix",
    "pq_rerank_recall_curve",
    "ivf_codebook_size_curve",
]


def _wait_for_quiet_host() -> dict:
    """Load-average guard (VERDICT r7 #3/#4): BENCH_r07.json was recorded
    under heavy host load (shared core 23.6 s vs 15.0 s quiet) and cost a
    round of perf signal.  Block until the 1-min load drops below
    ``$SPARK_GRAFT_BENCH_MAX_LOAD`` (default 4.0) or ``..._MAX_WAIT``
    seconds (default 900) elapse, then record what was observed — the
    artifact always says which regime it was measured in."""
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2"))
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "900"))
    t0 = time.time()
    load = os.getloadavg()[0]
    while load >= max_load and time.time() - t0 < max_wait:
        print(f"bench: host load {load:.1f} >= {max_load:g}, waiting...",
              file=sys.stderr)
        time.sleep(30)
        load = os.getloadavg()[0]
    return {"start_load1": round(load, 2),
            "waited_sec": round(time.time() - t0, 1),
            "max_load": max_load}


def _session_log_path() -> Path:
    return Path(os.environ.get(
        "SPARK_GRAFT_BENCH_LOG",
        str(Path(__file__).resolve().parent / "bench_sessions.jsonl")))


def _load_prior_sessions(sf: str, tree: str, cpus: str) -> list[dict]:
    """Sessions recorded earlier THIS round at the SAME ENGINE TREE
    (same sf, within the TTL — default 8h, under the ~6h round length).
    The tree filter (ADVICE r10 #1) closes the cross-commit mixing hole:
    a mid-round perf regression can no longer hide behind minima taken
    at an older, faster commit, because sessions only fold when the
    committed engine content (package dir + bench.py blob) is identical.
    Filtering on the engine TREE rather than the commit hash keeps
    evidence-only commits (NOTES, CORRECTNESS, STRESS files) from
    fragmenting the fold — the driver's closing session still folds with
    the quiet sessions recorded at the final code commit.

    Sessions additionally fold only at the SAME CORE COUNT (VERDICT r11
    #1): the driver re-runs the bench at a lower $SPARK_GRAFT_CPUS to
    measure scaling, and r11's c8 artifact silently inherited 38/55
    timings from the 32-core minima because the fold was blind to cpus.
    Records without a "cpus" field (pre-r12) never fold with new runs."""
    ttl = float(os.environ.get("SPARK_GRAFT_BENCH_SESSION_TTL", "28800"))
    now = time.time()
    out: list[dict] = []
    path = _session_log_path()
    if path.exists():
        for line in path.read_text().splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            # str() both sides: session records store cpus as the env
            # string while the summary artifact records an int — a
            # record written (or replayed) in the summary's convention
            # must not silently fail to fold on a type mismatch
            if (rec.get("sf") == sf and now - rec.get("ts", 0) <= ttl
                    and rec.get("tree") == tree and tree
                    and str(rec.get("cpus")) == str(cpus)):
                out.append(rec)
    return out


def _git(args: list[str]) -> str:
    try:
        import subprocess
        return subprocess.run(
            ["git", "-C", str(Path(__file__).resolve().parent)] + args,
            capture_output=True, text=True, timeout=10).stdout.strip()
    except Exception:
        return ""


def _git_head() -> str:
    return _git(["rev-parse", "--short", "HEAD"])


def _engine_tree() -> str:
    """Identity of the engine content this session measures: the
    committed tree hash of the package dir + the bench.py and
    __spark_entry__.py blob hashes (VERDICT r11 #4: query definitions
    could in principle live in the entry file, so it must fragment the
    fold too), with a '-dirty' suffix when any has uncommitted edits
    (dirty sessions therefore never fold with committed ones)."""
    hashes = _git(["rev-parse",
                   "HEAD:defi_etl_platform_sqlglot_implementation__spark",
                   "HEAD:bench.py", "HEAD:__spark_entry__.py"])
    if not hashes:
        return ""
    parts = hashes.split("\n")
    if len(parts) < 3:
        return ""
    tree = parts[0][:12] + "-" + parts[1][:8] + parts[2][:8]
    if _git(["status", "--porcelain", "--",
             "defi_etl_platform_sqlglot_implementation__spark", "bench.py",
             "__spark_entry__.py"]):
        tree += "-dirty"
    return tree


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    host_load = _wait_for_quiet_host()

    from defi_etl_platform_sqlglot_implementation__spark import session

    spark = session(cpus, "defi-spark-bench",
                    driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))

    import __spark_entry__ as entry

    queries = entry.queries()

    # JVM/codegen warm-up outside the timed region, plus a full-width
    # pandas-UDF stage so all Python workers exist before timing starts
    # (steady-state clusters reuse workers; a cold 32-process spawn costs
    # tens of seconds and would land on whichever query runs first).  The
    # EIP-55 kernel also runs worker.install_zip_stamps in every one of
    # them, so no timed task re-reads the pyspark.zip directories.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.functions.hex import eip55_checksum

    (spark.range(int(cpus) * 1000).repartition(int(cpus))
     .select(eip55_checksum(F.format_string("0x%040x", "id")))
     .write.mode("overwrite").format("noop").save())

    # min of N runs per query (SPARK_GRAFT_BENCH_RUNS, default 3): the
    # container shares its host, and r5's recorded bench landed under host
    # load — shared_subtotal 21.6 s vs 16.1–16.4 s quiet (VERDICT r5) —
    # so one retry was not enough noise shedding. The minimum is the
    # reproducible figure (noise is strictly additive). ETL below gets the
    # same min-of-N (r7; VERDICT r6 #6), contention-bounded.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        total += best

    # end-to-end ETL throughput over reference-shaped messages: raw JSON ->
    # envelope -> decode (incl. vectorized EIP-55) -> features -> block agg
    # -> canonical SQL, all forced through the noop sink
    from defi_etl_platform_sqlglot_implementation__spark.pipeline import run_batch
    from defi_etl_platform_sqlglot_implementation__spark.serving.data_service import (
        make_synthetic_transfer_messages,
        make_synthetic_tx_messages,
    )
    from defi_etl_platform_sqlglot_implementation__spark.sources.bronze import parse_raw_events

    n_msgs = int(os.environ.get("SPARK_GRAFT_ETL_MSGS", "100000"))
    msgs = (make_synthetic_transfer_messages(n=n_msgs * 7 // 10)
            + make_synthetic_tx_messages(n=n_msgs * 3 // 10))
    # materialize the fabricated input (driver->executor ship of 100k JSON
    # strings) OUTSIDE the timed region: it is benchmark-harness work, not
    # engine work — a real deployment reads these bytes from Kafka/bronze.
    raw = (spark.createDataFrame([(m,) for m in msgs], ["value"])
           .repartition(int(cpus)).persist())
    raw.count()
    def etl_once() -> float:
        t0 = time.time()
        events = parse_raw_events(raw).persist()  # one parse feeds all branches
        results = run_batch(spark, events)
        # persist the silver tables: the canonical SQL queries and the noop
        # writes share these subtrees (decode/eip55/feature UDF stages run
        # once, not once per consumer — the cache manager matches the SQL
        # views' plans against the cached frames)
        silver = [results[k] for k in ("transfers", "swaps", "transactions")]
        for df in silver:
            df.persist()
        for key in ("transfers", "swaps", "transactions", "block_agg",
                    "transfer_volume", "swap_price_impact"):
            results[key].write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        for df in silver:
            df.unpersist()
        events.unpersist()
        return dt

    # min-of-N like the analytics (VERDICT r6 #6: recorded 32.5k msgs/s vs
    # 44.0k quiet — one retry was not enough noise shedding here either),
    # but bounded: skip retries when the first run already shows heavy
    # host contention (keeps worst-case bench wall-clock sane).
    dt = etl_once()
    if dt < 100.0:
        for _ in range(max(0, runs - 1)):
            dt = min(dt, etl_once())
    raw.unpersist()
    timings["etl_run_batch"] = round(dt, 3)
    timings["etl_msgs_per_sec"] = round(len(msgs) / dt, 1)
    total += dt

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    session_load = {**host_load, "end_load1": round(os.getloadavg()[0], 2)}

    # --- min-of-sessions recording (VERDICT r9 #1) -------------------------
    # Ambient host load floats 0-5 and single-shot timings are strictly
    # noise-inflated, so the methodology has always treated per-query
    # min-of-sessions as truth — but the recorded artifact used to be ONE
    # session, decodable only via NOTES archaeology.  Now every run appends
    # its raw session to bench_sessions.jsonl and the EMITTED artifact is
    # the per-query minimum over this round's sessions at the same sf AND
    # the same engine tree (r11: sessions fold only when the committed
    # engine content is identical — see _load_prior_sessions; TTL 8h as
    # the secondary guard), with per-session raws kept inline under
    # "sessions".
    tree = _engine_tree()
    session_rec = {"ts": round(time.time(), 1), "sf": sf, "cpus": cpus,
                   "commit": _git_head(), "tree": tree,
                   "host_load": session_load, "queries": timings}
    prior = _load_prior_sessions(sf, tree, cpus)
    with _session_log_path().open("a") as fh:
        fh.write(json.dumps(session_rec) + "\n")
    all_sessions = prior + [session_rec]

    def _min_over_sessions(name: str) -> float:
        vals = [s["queries"][name] for s in all_sessions
                if name in s.get("queries", {})]
        return min(vals)

    best = {q: _min_over_sessions(q) for q in BENCH_QUERIES}
    best["etl_run_batch"] = _min_over_sessions("etl_run_batch")
    best["etl_msgs_per_sec"] = max(
        s["queries"]["etl_msgs_per_sec"] for s in all_sessions
        if "etl_msgs_per_sec" in s.get("queries", {}))
    best_total = round(sum(best[q] for q in BENCH_QUERIES)
                       + best["etl_run_batch"], 3)

    print(json.dumps({
        "metric": "headline_queries_total",
        # the recorded headline IS the per-query min-of-sessions sum — the
        # reproducible figure the round-over-round comparison uses
        "value": best_total,
        "unit": "sec",
        "queries": best,
        "n_sessions": len(all_sessions),
        # round-over-round comparable core (the r02-era 18-query set incl.
        # ETL); the full total grows whenever coverage grows, this doesn't
        "shared_subtotal": round(
            sum(best[q] for q in SHARED_QUERIES) + best["etl_run_batch"], 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # core count the minima were taken at — sessions at other core
        # counts never fold into these figures (VERDICT r11 #1)
        "cpus": int(cpus),
        # this invocation's raw single-session figures + regime, plus the
        # compact per-session history the minima were taken over
        "this_session": {"total": round(total, 3), "queries": timings,
                         "host_load": session_load},
        "engine_tree": tree,
        "sessions": [{"ts": s["ts"], "commit": s.get("commit", ""),
                      "start_load1": s["host_load"].get("start_load1"),
                      "end_load1": s["host_load"].get("end_load1"),
                      "total": round(sum(v for k, v in s["queries"].items()
                                         if k != "etl_msgs_per_sec"), 3)}
                     for s in all_sessions],
        # measurement regime of THIS session (kept top-level for driver
        # compatibility with earlier rounds' artifact shape)
        "host_load": session_load,
    }))


if __name__ == "__main__":
    main()
