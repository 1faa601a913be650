#!/bin/sh
# sf1 heavy-path bench tier (VERDICT r4 ask 2): generate the 10x sf1
# data (tools/make_sf1.py -> /root/repo/.sf1, gitignored), run the
# heavy-path queries through bench.py, and stamp the result into
# BENCH_SF1.json (committed; embedded into every bench.py output).
# NOTE: re-running REPLACES BENCH_SF1.json with this script's query
# set and DROPS the hand-maintained keys (vs_sf01_ratio_at_10x_data,
# notes, semantic_dedup_sharded — a library-path measurement
# re-measured via similarity.semantic_dedup(max_broadcast_centroids=1));
# diff against the committed file and re-merge those by hand after a
# re-run.  multi_constraint_corrections alone runs ~22 min
# at sf1 (quadratic fixture workload — see BENCH/BASELINE.md).
set -e
cd "$(dirname "$0")/.."
[ -f .sf1/events.parquet ] || python tools/make_sf1.py
SPARK_GRAFT_SF_DIR="$PWD/.sf1" \
SPARK_GRAFT_BENCH_REPEATS="${SPARK_GRAFT_BENCH_REPEATS:-1}" \
SPARK_GRAFT_BENCH_ONLY="exact_dedup,minhash_signatures,lsh_candidates,ngram_jaccard,dedup_survivors,chunk_dedup,semantic_dedup,semantic_dedup_trained,semantic_dedup_trained_sharded,knn_ivf_sharded,subclass_closure,single_value_corrections,unique_value_violations,multi_constraint_corrections,boilerplate_removal,dsir_select,triangle_counts,pagerank,label_propagation,predicate_pmi,random_walks,k_core,bfs_distances,hits,streaming_dedup,weighted_sample,tfidf_terms,cross_source_dups,neighbor_jaccard,snapshot_delta,ngram_novelty,prefix_jaccard_join" \
python bench.py 2>/dev/null | tail -1 > BENCH_SF1.json.tmp
python - <<'EOF'
import json, subprocess
d = json.load(open("BENCH_SF1.json.tmp"))
d.pop("like_for_like_vs_prev", None)
d.pop("sf1", None)
d["metric"] = "sf1_heavy_path_total"
d["provenance"] = {
    "commit": subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True).stdout.strip(),
    "generator": "tools/make_sf1.py (10 id-shifted worlds of sf0.1); tools/bench_sf1.sh",
}
json.dump(d, open("BENCH_SF1.json", "w"), indent=1)
EOF
rm -f BENCH_SF1.json.tmp
cat BENCH_SF1.json
