#!/usr/bin/env bash
# Mechanical pre-snapshot gate: the LAST action of every round.
#
#   tools/snapshot_check.sh [q1,q2,...]
#
# Compiles the EXACT tree about to be committed, then runs the sf0.01
# Verify slice for the given comma-separated gate keys (default: a
# smoke set, the four view-maintenance gates, the three serve gates
# of searchIndexed, ivfTopK and findIndexed, and four gates of the
# shared vector store: SQ8, streamed binary, SemDeDup and ANN purge,
# and six more serve gates of BM25 and IVF: plain, filtered, highlighted
# and partitioned search, refined and filtered ANN, and eight gates of
# the stores that commit through IndexStore.commitBatch: streamed and
# fielded text upserts, text purge, streamed SimHash, bulk docs, local
# docs and the release delta, and eight more streaming maintainers: ANN,
# IVF-PQ, SQ8, IVF-SQ8, the changes feed, the event store, replication
# and filtered replication) and checks them against the DuckDB oracle.
# Exits non-zero on any failure — do NOT snapshot-commit if this script
# fails.
set -euo pipefail
cd "$(dirname "$0")/.."

GATES="${1:-q01_emit_sum,q115_mango_find,q158_ivfpq_ann,q94_view_maintenance,q105_view_upsert,q109_compaction,q242_purge_view_index,q60_text_search,q53_ann_ivf,q116_mango_find_indexed,q207_sq8_index_ann,q209_stream_binary_index,q112_semdedup_index,q263_purge_ann_index,q59_bm25,q72_filtered_search,q262_search_highlights,q270_partitioned_search,q55_ann_ivf_refined,q79_filtered_ann,q95_streaming_text_index,q96_fielded_upsert,q104_streaming_fielded,q244_purge_text_index,q102_streaming_simhash,q220_bulk_docs_store,q251_local_docs,q273_release_delta,q101_streaming_ann,q170_streaming_ivfpq,q210_stream_sq8_index,q215_stream_ivfsq8,q138_streaming_changes,q140_streaming_events,q187_streaming_replication,q201_streaming_filtered_repl}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/snapshot_check.XXXXXX)"

echo "[snapshot_check] sbt compile ..."
sbt -batch compile

echo "[snapshot_check] Verify slice: $GATES @ $SF_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT $GATES"

echo "[snapshot_check] oracle check ..."
python3 tools/check_oracle.py "$SF_DIR" "$OUT"

echo "[snapshot_check] OK — safe to snapshot."
