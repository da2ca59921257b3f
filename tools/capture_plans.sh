#!/bin/bash
# Capture .explain("formatted") output for a list of declared queries, split
# into plans/<round>/<query>_<tag>.txt of the checkout this script lives in.
# Usage:
#   tools/capture_plans.sh <worktree> <round> <tag> <sfDir> <query>...
# e.g. tools/capture_plans.sh ../graft_before r14 before data/sf0.1 text_tfidf text_surprisal
#      tools/capture_plans.sh . r14 after data/sf0.1 text_tfidf
# <worktree> is the checkout whose code is explained (a parent commit for
# "before" plans); sfDir is the generated table dir, absolute or relative
# to <worktree>.
# The committed rounds were captured with these query lists:
#   r13: dedup_minhash_lsh dedup_components dedup_components_incremental
#        dedup_survivors_weighted dedup_tune_bands dedup_tune_embedding
#        text_span_dedup text_decontaminate text_tfidf text_surprisal
#        text_bigram_perplexity profile_drift_multi profile_distribution_drift
#        profile_categorical_drift text_prepare_corpus text_split_leakage_safe
#        text_quality text_lang_id text_curate_corpus
#        ann_pq_topk ann_opq_topk ann_ivfpq_topk ann_ivfpq_residual_topk
#   r14: text_tfidf text_surprisal text_bigram_perplexity text_repetition
#        text_select_budget_threshold text_span_dedup dedup_minhash_lsh
#        dedup_components text_prepare_corpus
set -e
WT=${1:?worktree}
ROUND=${2:?round, e.g. r14}
TAG=${3:?tag, e.g. before or after}
SF=${4:?sfDir}
shift 4
[ $# -gt 0 ] || { echo "no queries given" >&2; exit 2; }
OUT="$(cd "$(dirname "$0")/.." && pwd)/plans/$ROUND"
RAW=$(mktemp)
trap 'rm -f "$RAW"' EXIT
mkdir -p "$OUT"
cd "$WT"
sbt -batch "runMain graft.Explain $SF $*" > "$RAW" 2>/dev/null
python3 - "$RAW" "$TAG" "$OUT" <<'PY'
import re, sys
raw_path, tag, out = sys.argv[1], sys.argv[2], sys.argv[3]
raw = open(raw_path).read()
parts = re.split(r"=+ (\w+) =+\n", raw)
# parts: [prefix, name1, body1, name2, body2, ...]
for i in range(1, len(parts) - 1, 2):
    name, body = parts[i], parts[i + 1]
    # strip sbt [info]/[error] noise lines
    lines = [l for l in body.splitlines()
             if not l.startswith("[") or l.startswith("[error] ==")]
    open(f"{out}/{name}_{tag}.txt", "w").write("\n".join(lines).strip() + "\n")
    print("wrote", f"{out}/{name}_{tag}.txt")
PY
