#!/bin/sh
# Round-15 certification chain — one coherent chain at a single HEAD.
# Differences vs the round-14 chain script (removed; see git history):
#  - full-set oracle compares at sf0.01 AND sf0.1 first (untimed);
#  - fresh DuckDB sf0.1 baseline twins (3-rep medians);
#  - Spark bench: sf0.1 full x3, sf1 subset x3 @32 cores + x1 @8 cores
#    (the r14-verdict item 7 scaling leg at a data size where ratios
#    mean something), sf4 subset x2;
#  - scale hash gate ONLY for the queries whose physical branches
#    changed this round (q42 broadcast sides, q92/q93 join-back hint,
#    q114 distributed kernel): full sf1/sf4 twin re-burns are skipped —
#    the data and box are identical to r14's committed DUCKDB_SF1_r14 /
#    DUCKDB_SF4_r14, which remain the slope denominators.
# Status lines append to /tmp/chain_r15.status with cumulative steal.
# Prereq: /tmp/sf1gen (gen_scale 10) and /tmp/sf4gen (gen_scale 40).
set -x
cd /root/repo
ST=/tmp/chain_r15.status
OUT=/tmp/chain_r15
mkdir -p $OUT
SUBSET=q100_asof_join,q101_range_join,q102_fuzzy_join,q106_asof_forward,q107_overlap_join,q108_token_ids,q109_sample_quantiles,q110_hll_by_group,q111_temporal_reachability,q112_ktruss,q113_link_prediction,q114_copurchase,q115_weighted_pagerank,q116_countmin_by_group,q117_weighted_lpa,q118_ivfpq_ann,q119_modularity,q120_exact_quantiles,q17_lcc,q18_dedup_exact,q19_dedup_jaccard,q1_agg,q20_dedup_minhash,q21_dedup_simhash,q22_text_stats,q27_sim_lsh,q32_summarize_pg,q35_user_bfs,q36_user_wcc,q3_window,q42_match_3hop_big,q43_tfidf,q44_ngram_freq,q55_user_kshortest,q56_ivf_ann,q62_sequence_pack,q71_repetition,q72_c4_filters,q73_decontaminate,q74_pii_redact,q75_mixture_sample,q78_corpus_profile,q79_line_dedup,q80_unigram_logprob,q83_triangles,q85_scc,q87_semdedup,q92_mixed_space_path,q93_cross_space_acyclic,q94_duplicated_spans,q95_bloom_decontaminate,q96_pq_ann
CHANGED=q42_match_3hop_big,q92_mixed_space_path,q93_cross_space_acyclic,q114_copurchase
HEAD=$(git rev-parse --short HEAD)
steal() { awk '/^cpu /{print $9}' /proc/stat; }
echo "chain start head=$HEAD steal=$(steal) $(date +%H:%M:%S)" >> $ST

# 1. verify + ORACLE COMPARES FIRST (untimed)
rm -rf $OUT/v001 $OUT/v01 $OUT/vsf1 $OUT/vsf4
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT/v001" > $OUT/v001.log 2>&1
echo "verify sf0.01 exit=$? steal=$(steal) $(date +%H:%M:%S)" >> $ST
python3 tools/compare_oracle.py /root/testdata/sf0.01 $OUT/v001 > $OUT/cmp001.txt 2>&1
echo "compare sf0.01 exit=$? $(grep -E '^(PASS|FAIL)' $OUT/cmp001.txt | tr '\n' ' ') $(date +%H:%M:%S)" >> $ST
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $OUT/v01" > $OUT/v01.log 2>&1
echo "verify sf0.1 exit=$? steal=$(steal) $(date +%H:%M:%S)" >> $ST
python3 tools/compare_oracle.py /root/testdata/sf0.1 $OUT/v01 > $OUT/cmp01.txt 2>&1
echo "compare sf0.1 exit=$? $(grep -E '^(PASS|FAIL)' $OUT/cmp01.txt | tr '\n' ' ') $(date +%H:%M:%S)" >> $ST

# 2. DuckDB sf0.1 baseline twins (3-rep medians, timed)
S0=$(steal)
python3 tools/bench_duckdb.py /root/testdata/sf0.1 $OUT/v01 > $OUT/duck01.json 2> $OUT/duck01.err
echo "duck sf0.1 exit=$? steal=$(($(steal)-S0)) $(date +%H:%M:%S)" >> $ST

# 3. Spark bench sf0.1 full x3 (timed, fresh JVM each)
for i in 1 2 3; do
  S0=$(steal)
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch 'runMain graft.Bench' 2>$OUT/bench01_$i.err | tail -1 >> $OUT/bench01.jsonl
  echo "{\"leg\":\"sf0.1 run$i\",\"steal\":$(($(steal)-S0))}" >> $OUT/steal.jsonl
  echo "bench sf0.1 run$i steal=$(($(steal)-S0)) $(date +%H:%M:%S)" >> $ST
done
python3 tools/assemble_r15.py $OUT $HEAD >> $ST 2>&1

# 4. Spark bench sf1 subset x3 @32 cores, then x1 @8 cores
for i in 1 2 3; do
  S0=$(steal)
  SPARK_GRAFT_SF_DIR=/tmp/sf1gen SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_ONLY=$SUBSET \
    sbt -batch 'runMain graft.Bench' 2>$OUT/benchsf1_$i.err | tail -1 >> $OUT/benchsf1.jsonl
  echo "{\"leg\":\"sf1 run$i c32\",\"steal\":$(($(steal)-S0))}" >> $OUT/steal.jsonl
  echo "bench sf1 run$i steal=$(($(steal)-S0)) $(date +%H:%M:%S)" >> $ST
done
S0=$(steal)
SPARK_GRAFT_SF_DIR=/tmp/sf1gen SPARK_GRAFT_CPUS=8 SPARK_GRAFT_BENCH_ONLY=$SUBSET \
  sbt -batch 'runMain graft.Bench' 2>$OUT/benchsf1_c8.err | tail -1 >> $OUT/benchsf1_c8.jsonl
echo "{\"leg\":\"sf1 c8\",\"steal\":$(($(steal)-S0))}" >> $OUT/steal.jsonl
echo "bench sf1 c8 steal=$(($(steal)-S0)) $(date +%H:%M:%S)" >> $ST
python3 tools/assemble_r15.py $OUT $HEAD >> $ST 2>&1

# 5. Spark bench sf4 subset x2
for i in 1 2; do
  S0=$(steal)
  SPARK_GRAFT_SF_DIR=/tmp/sf4gen SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_ONLY=$SUBSET \
    sbt -batch 'runMain graft.Bench' 2>$OUT/benchsf4_$i.err | tail -1 >> $OUT/benchsf4.jsonl
  echo "{\"leg\":\"sf4 run$i\",\"steal\":$(($(steal)-S0))}" >> $OUT/steal.jsonl
  echo "bench sf4 run$i steal=$(($(steal)-S0)) $(date +%H:%M:%S)" >> $ST
done
python3 tools/assemble_r15.py $OUT $HEAD >> $ST 2>&1

# 6. scale hash gate for the branch-changed queries
sbt -batch "runMain graft.Verify /tmp/sf1gen $OUT/vsf1 $CHANGED" > $OUT/vsf1.log 2>&1
echo "verify sf1 changed exit=$? $(date +%H:%M:%S)" >> $ST
python3 tools/compare_oracle_subset.py /tmp/sf1gen $OUT/vsf1 $CHANGED 600 > $OUT/cmpsf1.txt 2>&1
echo "compare sf1 changed exit=$? $(tail -1 $OUT/cmpsf1.txt) $(date +%H:%M:%S)" >> $ST
sbt -batch "runMain graft.Verify /tmp/sf4gen $OUT/vsf4 $CHANGED" > $OUT/vsf4.log 2>&1
echo "verify sf4 changed exit=$? $(date +%H:%M:%S)" >> $ST
python3 tools/compare_oracle_subset.py /tmp/sf4gen $OUT/vsf4 $CHANGED 600 > $OUT/cmpsf4.txt 2>&1
echo "compare sf4 changed exit=$? $(tail -1 $OUT/cmpsf4.txt) $(date +%H:%M:%S)" >> $ST
python3 tools/assemble_r15.py $OUT $HEAD >> $ST 2>&1
echo "chain done steal=$(steal) $(date +%H:%M:%S)" >> $ST
