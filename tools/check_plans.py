"""Physical-plan hygiene gate: asserts the optimizer properties the engine
is designed around, for every query in the declared surface.

Checks (per query, on the executed/physical plan string):

1. **no row-at-a-time Python** — ``BatchEvalPython`` must never appear
   (Arrow-batched ``ArrowEvalPython``/``MapInPandas`` are the sanctioned
   Python paths);
2. **codegen** — at least one ``WholeStageCodegen`` span in every plan;
3. **pushdown** — queries tagged below must show a non-empty
   ``PushedFilters`` on a parquet scan;
4. **broadcast** — queries tagged below must contain a broadcast join
   (hash or nested-loop), i.e. the small side never shuffles.

Usage: python tools/check_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Every query with a selective scan filter must show it pushed to parquet.
# (Queries absent here scan full tables by nature — dedup/text/multimodal
# pipelines consume every row — or filter only on derived expressions,
# e.g. corpus_curation's language/quality gates, which parquet can't take.)
EXPECT_PUSHDOWN = {
    "g1_files_diff",
    "g3_schema_flatten",
    "g6_filter_predicates",
    "deterministic_sample",
    "rollup_agg",
    "window_agg",
    "hopping_window",
    "range_join",
    # simhash_near_dups untagged in r5: it now consumes the SHARED persisted
    # token-hash intermediate (queries.text._corpus_token_hashes) — the scan is an
    # InMemoryTableScan by design, so parquet PushedFilters no longer apply
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_topk",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
}
# Every dimension/small-side join must broadcast (never shuffle the small
# side). asof_join and corpus_curation are deliberately untagged: the
# as-of plan is a union-merge window (joinless by design) and curation is
# one fused scan+agg plan — neither contains a join to broadcast.
EXPECT_BROADCAST = {
    "g1_files_diff",
    "rollup_agg",
    "range_join",
    "sync_inventory",
    "minhash_lsh_dedup",
    "simhash_near_dups",
    "winnow_near_dups",
    "ngram_jaccard",
    "embedding_topk",
    "embedding_near_dups",
    "intersect_keys",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    # round-5 newcomers: checkerboard combos / benchmark gram set /
    # centroid table are all broadcast small sides
    "knn_label_vote",
    "semdedup_pairs",
    "decontam_overlap",
    "centroid_similarity",
    "bm25_search",
    "incremental_dedup",
    "gap_fill",
    "moving_avg",
    "unigram_logprob",
    # round-6 batch 2: benchmark gram set / CC labels / LM vocabulary are
    # all broadcast small sides
    "contamination_span",
    "cluster_representatives",
    "perplexity_buckets",
}
# Shuffle-budget ceilings: queries whose design bounds the number of
# exchanges (repartition/aggregate/join shuffles) in the physical plan —
# a regression that sneaks an extra shuffle in fails the gate even though
# codegen/pushdown still look fine.
EXPECT_MAX_EXCHANGES = {
    "repetition_filter": 1,  # the round-robin spread only; metrics are shuffle-free
    "heavy_hitters": 1,      # one partial→final agg exchange; top-k is TakeOrdered
    "approx_distinct": 3,    # 1 sketch merge + 2 exact-distinct phases; never fused
    "approx_quantiles": 3,   # sketch merge + rank-audit agg + exact branch
    "tfidf_top_terms": 5,    # tf agg, doc window, df agg, corpus count, top-3 sort
    "source_mixture": 2,     # source agg + k-row normalizer window
    "unigram_logprob": 4,    # vocab agg, total, LM broadcast build, doc agg
    "zorder_layout": 0,      # projection + TakeOrderedAndProject only
    "tpch_q1": 1,            # one partial→final agg exchange (sort rides AQE output)
    "tpch_q6": 1,            # single global agg
    "window_agg": 1,         # one window/agg exchange
    "sessionize": 1,         # one user-partition window exchange
    "event_transitions": 3,  # user window + pair agg + k²-row normalizer
    "g2_group_files": 1,     # one grouping exchange
    "gap_fill": 3,           # daily agg + spine build + spine join
    "moving_avg": 3,         # gap_fill plan; trailing window rides the join output
    "text_features": 0,      # pure projection
    "deterministic_sample": 0,
    # round-6 (VERDICT r5 #7): the dedup/similarity families get explicit
    # ceilings — budgets measured at sf0.01 with the shared corpus caches
    # warm (registry order guarantees dedup_clusters builds them first)
    "minhash_lsh_dedup": 3,   # band-bucket agg + pair dedup agg + r7 contract join (LSH vs exact full-outer)
    "simhash_near_dups": 2,   # sig-cluster collapse + pigeonhole bucket agg
    "knn_label_vote": 2,      # checkerboard GEMM partial + per-query top-k
    "incremental_dedup": 3,   # sz agg, overlap agg, size join-back
    "chunk_dedup": 2,         # chunk-count agg + per-doc rollup (no window)
    "decontam_overlap": 3,    # gram agg, probe agg, doc rollup
    "centroid_similarity": 3, # posexplode partial mean + assign + score agg
    "bm25_search": 1,         # one stats row + TakeOrdered
    "stratified_sample": 1,   # one (lang, source) grouping exchange
    "winnow_fingerprint": 1,  # window fingerprint agg over cached grams
    "winnow_near_dups": 3,    # fp join + pair agg + df cap agg
    "dedup_clusters": 1,      # CC over cached pairs; one label agg
    "ngram_jaccard": 3,       # dfreq agg, light self-join, pair agg
    # round-7 contract shapes: the exact ground truth + broadcast contract
    # row(s); the ANN exact top-k is TakeOrdered (no shuffle), contract
    # aggs ride broadcast crossJoins
    "ann_lsh_topk": 0,
    "ann_ivf_topk": 0,
    "semdedup_pairs": 1,      # checkerboard GEMM partial agg (contract row broadcast)
    "sync_validation": 0,     # local 8-row result; validator aggs run inside the build
    "embedding_near_dups": 1, # checkerboard GEMM partial agg
    # round-6 batch-2 newcomers
    # round-7: diag agg + pair agg + the cached window table's build
    # subtree (docfreq agg + distinct pre-agg, printed under the
    # InMemoryRelation); headroom for the self-join's AQE broadcast
    # flipping to a shuffle join at larger sf (+2)
    "substring_dedup": 6,
    "pii_redaction": 1,       # pure regex projection + 5-language partial agg
    "contamination_span": 2,  # bench-gram distinct agg + per-doc hit rollup
    "cluster_representatives": 1,  # arg-max-by-struct agg over cached CC labels
    "perplexity_buckets": 5,  # unigram_logprob's 4 + the (source × 3) rollup
}
# Partition-pruning contracts (r11): the named query's plan must carry a
# non-empty PartitionFilters clause naming the column — the probe executes
# as partition pruning on the hive-partitioned artifact, not a post-scan
# row filter.
EXPECT_PARTITION_FILTERS = {
    "ann_ivfpq_persisted": "cluster",
}
# streaming queries execute via writeStream, not a single batch plan;
# streaming_cdc_feed additionally RETURNS the bare memory-sink table (a
# local scan with nothing to codegen — the projection work happened in
# the stream)
SKIP = {
    "streaming_window_agg",
    "streaming_sessionize",
    "streaming_dedup",
    "streaming_join",
    "streaming_cdc_feed",
}

# modules whose code runs in the QUERY path — a .collect()/.toLocalIterator()
# there is a driver-materialization scale bug unless it carries a
# `# driver-ok:` justification (bounded single-row fetch, capped sample) on
# the same or the preceding line AND fits the reviewed per-file allowance
# below: a marker alone cannot self-certify a new collect — adding one
# forces an edit here, i.e. a review of its boundedness argument.
QUERY_PATH_GLOBS = (
    "onetable_spark/functions/*.py",
    "onetable_spark/operators/*.py",
    "onetable_spark/queries/*.py",
)
#: file (relative to onetable_spark/) -> number of sanctioned sites
SANCTIONED_DRIVER_SITES = {
    # IVF trainer's max_train_rows-capped sample
    "functions/similarity.py": 1,
    # per-iteration bounded top-(N+1) fetch + the alphabet-sized symbol
    # universe (|alphabet| + n_merges entries)
    "functions/bpe.py": 2,
    # O(planned bins) compaction plan, the per-partition zorder rewrite
    # plan (same commit-payload order), and Iceberg referenced_paths'
    # manifest-list walk (bounded by manifest count per snapshot)
    "operators/maintenance.py": 3,
    # staged-lifecycle read-backs over a handful of staged files, and
    # refusal probes that raise before rows materialize:
    # zorder_compaction's per-file z-bounds + snapshot read-back (2),
    # vacuum_orphans' 4-file status fetch (1), hudi_mor_views +
    # iceberg_eq_deletes refusal probes (2), dv_translation's DV verify
    # row, descriptor row and two 2-file round-trip read-backs (4),
    # hudi_delete_translation's refusal probe + one-log verify fetch (2),
    # hudi_mor_compaction's 1-file equivalence read-back (1),
    # iceberg_rewrite_files' and delta_dv_purge's post-rewrite inventory +
    # pre-rewrite time-travel checks (2 + 2), iceberg_upsert's refusal
    # probe (1), delta_upsert's DV cross-check (1), and hudi_upsert's
    # refusal probe + one-log verify fetch (2)
    "queries/format_lifecycles.py": 20,
    # sync_delta_dv's DV cross-check (one row per DV'd file),
    # sync_bucket_spec's per-bucket count fetch (<=4 rows) and
    # truncate-sibling distinct-dir fetch (<=5 rows), and
    # sync_bucket_decimal's <=4-row per-bucket aggregate
    "queries/sync_lifecycles.py": 4,
}


def check_no_driver_materialization(repo_root: Path) -> list[str]:
    problems, marked = [], Counter()
    for pattern in QUERY_PATH_GLOBS:
        for f in sorted(repo_root.glob(pattern)):
            rel = f.relative_to(repo_root / "onetable_spark").as_posix()
            lines = f.read_text().splitlines()
            for i, line in enumerate(lines):
                code = line.split("#", 1)[0]
                if ".collect()" in code or "toLocalIterator" in code:
                    if "# driver-ok:" in line or (i and "# driver-ok:" in lines[i - 1]):
                        marked[rel] += 1
                    else:
                        problems.append(
                            f"{rel}:{i + 1} unsanctioned driver materialization: {line.strip()[:80]}"
                        )
    for rel, n in sorted(marked.items()):
        allowed = SANCTIONED_DRIVER_SITES.get(rel, 0)
        if n > allowed:
            problems.append(
                f"{rel}: {n} marked driver-materialization sites but only {allowed} "
                "sanctioned — review and extend the allowance"
            )
    return problems


def plan_of(df) -> str:
    # materialize first: under AQE the final (codegen-annotated) plan only
    # exists after execution (isFinalPlan=true)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from onetable_spark.queries import SPARK_QUERIES
    from onetable_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    only = set(args)  # optional query-name filter: check_plans.py [sf_dir] [query ...]
    spark = get_spark("plan-check")
    failures = 0
    checked = 0
    for p in check_no_driver_materialization(Path(__file__).resolve().parent.parent):
        print(f"FAIL {p}")
        failures += 1
    for name, fn in SPARK_QUERIES.items():
        if name in SKIP or (only and name not in only):
            continue
        checked += 1
        try:
            plan = plan_of(fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: plan build error: {str(ex)[:120]}")
            failures += 1
            continue
        problems = []
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF in plan")
        if "*(" not in plan and "WholeStageCodegen" not in plan:
            problems.append("no WholeStageCodegen span")
        if name in EXPECT_PUSHDOWN and not re.search(r"PushedFilters: \[[^\]]", plan):
            problems.append("expected non-empty PushedFilters")
        if name in EXPECT_BROADCAST and "Broadcast" not in plan:
            problems.append("expected a broadcast join")
        if name in EXPECT_PARTITION_FILTERS:
            col = EXPECT_PARTITION_FILTERS[name]
            pf = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
            if not (pf and col in pf.group(1)):
                problems.append(f"expected PartitionFilters on {col}")
        if name in EXPECT_MAX_EXCHANGES:
            # AQE's plan string repeats the tree under "== Initial Plan ==";
            # count shuffle exchanges in the final section only
            final_section = plan.split("== Initial Plan ==")[0]
            n_ex = len(re.findall(r"\bExchange ", final_section))
            if n_ex > EXPECT_MAX_EXCHANGES[name]:
                problems.append(
                    f"{n_ex} exchanges, budget {EXPECT_MAX_EXCHANGES[name]}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}")
    print(f"{checked} plans checked, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
