"""Physical-plan assertions (100TB posture): column pruning reaches the
parquet scan, no token-scale shuffle precedes the partial build, and small
dims broadcast in joins."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from grenier_spark.operators.sketch_build import SketchSpec, build_sketches

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark, docs_tiny):
    """build_sketches must read ONLY the group + value columns: a doc_id or
    text column in ReadSchema means pruning broke."""
    docs = spark.read.parquet(docs_tiny)
    df = build_sketches(docs, [SketchSpec.of("h", "hll", "tokens", p=10)],
                        group_cols=["source"])
    plan = plan_of(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "doc_id" not in scan[0]
    assert "tokens" in scan[0] and "source" in scan[0]


def test_no_exchange_before_partial_build(spark, docs_tiny):
    """Token arrays must not shuffle: the first Exchange in the plan has to
    sit ABOVE the ArrowEvalPython/mapInArrow stage (i.e. apply to partial
    sketch rows), never between the scan and the python stage."""
    docs = spark.read.parquet(docs_tiny)
    df = build_sketches(docs, [SketchSpec.of("h", "hll", "tokens", p=10)],
                        group_cols=["source"])
    plan = plan_of(df)
    lines = plan.splitlines()
    # find the python map stage and the scan; ensure no Exchange between them
    py_idx = max(i for i, ln in enumerate(lines)
                 if "PythonMapInArrow" in ln or "MapInArrow" in ln
                 or "ArrowEvalPython" in ln)
    scan_idx = max(i for i, ln in enumerate(lines) if "Scan parquet" in ln)
    between = lines[py_idx:scan_idx]
    assert not any("Exchange" in ln for ln in between), "\n".join(between)


def test_q3_join_broadcasts_dims(spark):
    plan = plan_of(entry_mod.q_tpch_q3_join(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_partials_are_sketch_scale(spark, docs_tiny):
    """The rows that DO shuffle are KB-sized: partial count is bounded by
    partitions x groups x specs, independent of row count."""
    docs = spark.read.parquet(docs_tiny).repartition(6)
    res = build_sketches(docs, [SketchSpec.of("h", "hll", "tokens", p=10)],
                         group_cols=["source"], fanout=4)
    assert res.count() == 4  # one row per (group, spec) after final merge


def _walk_jplan(node):
    yield node
    cs = node.children()
    for i in range(cs.length()):
        yield from _walk_jplan(cs.apply(i))


def _exchange_output_names(df) -> "list[list[str]]":
    """Output column names of every Exchange (shuffle or broadcast) node —
    i.e. exactly what crosses the wire."""
    jplan = df._jdf.queryExecution().executedPlan()
    outs = []
    for n in _walk_jplan(jplan):
        if "Exchange" in n.nodeName():
            o = n.output()
            outs.append([o.apply(i).name() for i in range(o.length())])
    return outs


def test_token_seq_members_key_only_exchange(spark, docs_tiny):
    """token_seq_dup_members must move (seq_hash, id, n_tok)-shaped rows
    ONLY: no Exchange node (shuffle or broadcast) may output the token
    arrays — at 10^12 sequences the wire cost is ~50 B/row regardless of
    sequence length. Also: no Window operator, so a degenerate dup cluster
    is an AQE-splittable join key, not a single window task. AQE is
    disabled for the walk so the physical tree is concrete."""
    from grenier_spark.operators.dedup import token_seq_dup_members

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.read.parquet(docs_tiny)
        df = token_seq_dup_members(docs)
        assert "Window" not in plan_of(df)
        outs = _exchange_output_names(df)
        assert outs, "expected at least one Exchange"
        for names in outs:
            assert "tokens" not in names, outs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_dedup_member_and_keep_first_paths_have_no_window(spark, docs_tiny):
    """All dedup member/keep-first paths use the agg+join keep rule — a
    row_number window would pin a degenerate dup cluster (empty pages,
    boilerplate) to a single task, which no cluster size can fix."""
    from grenier_spark.operators.dedup import (dedup_keep_first,
                                               exact_dup_members,
                                               token_seq_dedup_keep_first)

    toks = spark.read.parquet(docs_tiny)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (exact_dup_members(docs), dedup_keep_first(docs),
               token_seq_dedup_keep_first(toks)):
        assert "Window" not in plan_of(df)


def test_sessionize_single_exchange(spark):
    """Sessionization must cost exactly ONE shuffle (hash on user_id) —
    lag + running-sum windows share the same partitioning, so Catalyst
    plans one Exchange + one Sort reused by both."""
    from grenier_spark.operators.sessions import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(sessionize(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_anti_join_broadcasts(spark):
    """The anti join should broadcast (orders side is filtered/small at the
    gate SF via AQE or static estimate); nation must broadcast."""
    plan = plan_of(entry_mod.q_customers_without_orders(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_ngram_join_is_not_cartesian(spark):
    """The inverted-index self-join must join ON the shingle (hash/sort
    join), never a cartesian product."""
    from grenier_spark.operators.dedup import ngram_word_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(ngram_word_jaccard_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The 100TB co-located-join technique: two tables bucketed (and
    sorted) on the join key join WITHOUT any shuffle — the plan must show
    a SortMergeJoin with zero Exchange operators. This is the bucketing
    strategy SURVEY.md §4.2 prescribes for repeated big-big joins."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}'")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at the tiny test SF Spark would broadcast instead; the point here is
    # the big-big shape where broadcast is impossible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("bdemo.orders_b"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("bdemo.lineitem_b"))
        j = (spark.table("bdemo.lineitem_b")
             .join(spark.table("bdemo.orders_b"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderstatus").count())
        plan = plan_of(j)
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert any("SortMergeJoin" in ln for ln in join_lines), plan
        # the join itself is exchange-free; only the tiny groupBy above it
        # may shuffle — assert no Exchange BELOW the join
        below = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in below, below
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bdemo.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS bdemo.orders_b")
        spark.sql("DROP DATABASE IF EXISTS bdemo")


def test_set_ops_single_job_two_exchanges(spark):
    """The set-ops gate query must stay ONE declarative plan: a hash
    Exchange for the per-customer year flags plus the single-partition
    Exchange of the global aggregate — and no intersect/except operators
    (round-1 shape ran three driver-side .count() jobs)."""
    plan = plan_of(entry_mod.q_set_ops_customers(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_quantile_bound_gate_broadcasts_estimates(spark):
    """The rank-condition join in the KLL/t-digest gates streams the RAW
    table once and broadcasts the (group x quantile) estimate rows — the
    raw side must never shuffle for this join."""
    for q in (entry_mod.q_nchars_quantiles_kll,
              entry_mod.q_value_quantiles_tdigest):
        plan = plan_of(q(spark, SF))
        assert "BroadcastHashJoin" in plan, plan


def test_split_assignment_is_scan_stage(spark):
    """Split assignment must be pure JVM expressions fused with the scan:
    no Python nodes anywhere, exactly one Exchange (the count aggregate),
    and the sample's hash filter evaluated BELOW that Exchange (pre-shuffle
    — at 100 TB the dropped 80% never leaves the scan stage)."""
    for q in (entry_mod.q_train_val_split, entry_mod.q_doc_sample_frac):
        plan = plan_of(q(spark, SF))
        assert "Python" not in plan and "BatchEval" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    plan = plan_of(entry_mod.q_doc_sample_frac(spark, SF))
    lines = plan.splitlines()
    filt = max(i for i, ln in enumerate(lines) if "Filter" in ln)
    exch = max(i for i, ln in enumerate(lines) if "Exchange" in ln)
    assert filt > exch, plan  # deeper in the tree = printed later


def test_mixture_resample_is_narrow(spark):
    """Source-mixture resampling is replicate-in-place: CASE + explode +
    filter fused with the scan. NO Exchange of any kind and no Python —
    at 100 TB the up/down-sampled rows are produced inside the scan stage
    and flow straight to the consumer."""
    plan = plan_of(entry_mod.q_mixture_docs(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert "Generate explode" in plan, plan


def test_shuffle_order_is_narrow(spark):
    """Training-order assignment (mixture -> order_key/shard) stays a
    scan-stage projection: the 100 TB shuffle happens only when a WRITER
    repartitions on the precomputed shard column — the assignment itself
    must not exchange."""
    plan = plan_of(entry_mod.q_shuffle_order_docs(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan


def test_ingest_dedup_never_exchanges_the_corpus(spark):
    """Incremental ingest dedup: the Bloom probe runs ONCE (on the new
    batch — the nondeterministic marking must keep Catalyst's constraint
    inference from copying the Python predicate onto the corpus scan),
    and every join is broadcast — a SortMergeJoin here means the corpus
    got exchanged, the 100 TB anti-pattern this operator exists to
    avoid."""
    plan = plan_of(entry_mod.q_ingest_dedup_docs(spark, SF))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_stride_interleave_single_window_exchange(spark):
    """Stride interleaving pays exactly ONE hash Exchange (the per-source
    row_number window) and stays JVM-side — the stride CASE and the
    position multiply must not add shuffles or Python."""
    plan = plan_of(entry_mod.q_stride_interleave_docs(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert "Window" in plan, plan


def test_contamination_broadcasts_eval_shingles(spark):
    """benchmark_contamination: the eval shingle set rides a broadcast
    join; the training corpus must never hit a SortMergeJoin (at web
    scale that join would shuffle every corpus shingle)."""
    plan = plan_of(entry_mod.q_benchmark_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_priority_sample_single_window_exchange(spark):
    """weighted_doc_sample: hash + priority are scan-stage projections;
    exactly one Exchange (the per-group window) touches the rows."""
    plan = plan_of(entry_mod.q_weighted_doc_sample(spark, SF))
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "Broadcast" not in ln
                and "Reused" not in ln]
    assert len(shuffles) == 1, plan


def test_lsh_bucket_join_moves_no_vector_payload(spark):
    """ann_lsh_topk: the bucket join must broadcast the query side and
    the only exchanged vector-side rows are narrow (id, bucket) pairs —
    embeddings join back once for the re-rank, never once-per-band."""
    plan = plan_of(entry_mod.q_ann_lsh_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # no Exchange line may carry the embedding column (the re-rank joins
    # read it scan-side / broadcast-side only)
    for ln in plan.splitlines():
        if "Exchange" in ln and "Reused" not in ln:
            assert "embedding" not in ln, ln


def test_fuzzy_contamination_broadcasts_eval_side(spark):
    """fuzzy_contamination: the eval band table and eval shingle sets ride
    broadcast joins — the candidate and verify joins must never
    SortMergeJoin (that would shuffle corpus-scale banded rows against a
    benchmark-sized table at web scale)."""
    from pyspark.sql import functions as F

    from grenier_spark.operators.decontam import fuzzy_contamination

    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
            .where("length(text) > 100").limit(40))
    ev = (docs.limit(4)
          .select((F.col("doc_id") + 5_000_000).alias("eval_id"), "text"))
    plan = plan_of(fuzzy_contamination(docs, ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_label_confusion_never_shuffles_vectors(spark):
    """embedding_label_confusion: centroid cells ride the sketch pipeline
    (KB partials), centroids broadcast back, and the per-vector argmax
    exchanges only narrow (id, label, struct) rows — no Exchange may carry
    the embedding payload, and the centroid join must broadcast."""
    plan = plan_of(entry_mod.q_embedding_label_confusion(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    assert "SortMergeJoin" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "Reused" not in ln:
            assert "embedding" not in ln, ln


def test_lm_scores_vocab_join_broadcasts(spark):
    """doc_lm_scores: the K-row vocabulary must BroadcastHashJoin against
    the exploded words (a SortMergeJoin would shuffle token-scale rows
    against a bounded vocab at web scale), and the doc-level mean must
    carry partial aggregation (HashAggregate below the Exchange) so the
    final shuffle is doc-scale, not token-scale."""
    plan = plan_of(entry_mod.q_doc_lm_scores(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    lines = plan.splitlines()
    ex = [i for i, ln in enumerate(lines)
          if "Exchange" in ln and "Reused" not in ln and "Broadcast" not in ln]
    assert ex, plan
    # partial_avg/partial_count must appear BELOW the topmost row Exchange
    assert any("partial" in ln for ln in lines[min(ex):]), plan


def test_dup_span_stats_plan_shape(spark):
    """dup_span_stats: the window-count aggregate must combine map-side
    (partial_count below the shingle exchange), there must be no cartesian
    or broadcast-nested-loop join, and the two island window functions
    must share ONE doc-keyed Exchange (id partitioning reused, not
    re-shuffled per window spec)."""
    plan = plan_of(entry_mod.q_dup_span_stats(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan
    n_win = plan.count("Window")
    doc_ex = [ln for ln in plan.splitlines()
              if "Exchange hashpartitioning(doc_id" in ln
              and "Reused" not in ln]
    assert n_win >= 2, plan
    assert len(doc_ex) <= 1, plan


def test_prefiltered_span_stats_probe_is_scan_stage(spark):
    """dup_span_stats_cms: the CMS probe (ArrowEvalPython) must run BELOW
    the first Exchange — only probe-selected candidate rows may shuffle;
    the full window stream shuffling would defeat the prefilter."""
    plan = plan_of(entry_mod.q_dup_span_stats_cms(spark, SF))
    lines = plan.splitlines()
    py = [i for i, ln in enumerate(lines)
          if "ArrowEvalPython" in ln or "PythonMapInArrow" in ln]
    assert py, plan
    probe_idx = max(py)  # deepest python stage = the probe over documents
    ex = [i for i, ln in enumerate(lines)
          if "Exchange" in ln and "Reused" not in ln
          and "Broadcast" not in ln]
    # tree prints root-first: a LOWER line number is CLOSER to the root,
    # so every row Exchange must print ABOVE (before) the probe stage
    assert ex and max(ex) < probe_idx, plan


def test_bloom_decontam_probe_is_scan_stage(spark):
    """benchmark_contamination_bloom: the Bloom probe (ArrowEvalPython)
    must consume the train scan DIRECTLY — no Exchange between the probe
    and the parquet scan below it (scan-stage routing; candidate-scale
    exchanges ABOVE the probe are the point of the filter)."""
    plan = plan_of(entry_mod.q_benchmark_contamination_bloom(spark, SF))
    lines = plan.splitlines()
    py = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert py, plan
    probe = max(py)  # deepest python stage = the probe branch
    scan = min(i for i, ln in enumerate(lines)
               if i > probe and "Scan parquet" in ln)
    between = lines[probe:scan]
    assert not any("Exchange" in ln for ln in between), "\n".join(between)
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_joins_broadcast(spark):
    """doc_bigram_lm_scores: both LM tables (unigram top-K, bigram top-K)
    must reach the position stream as BroadcastHashJoins — a SortMergeJoin
    would shuffle token-scale position rows against bounded tables."""
    plan = plan_of(entry_mod.q_doc_bigram_lm_scores(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert any("partial" in ln for ln in plan.splitlines()), plan


def test_dsir_lambda_join_broadcasts_and_topk_is_take_ordered(spark):
    """dsir_selection: the B-row lambda table must BroadcastHashJoin
    against exploded words (SortMergeJoin would shuffle token-scale rows),
    the doc aggregate must combine map-side, and selection must be a
    TakeOrdered, never a global Sort of the corpus."""
    plan = plan_of(entry_mod.q_dsir_selection(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    lines = plan.splitlines()
    ex = [i for i, ln in enumerate(lines)
          if "Exchange" in ln and "Reused" not in ln
          and "Broadcast" not in ln]
    assert any("partial" in ln for ln in lines[min(ex):]), plan


def test_bpe_apply_broadcasts_segmentation(spark):
    """doc_bpe_tokens: the bounded (word, n_syms) table broadcasts against
    the exploded corpus words; the per-doc sum combines map-side."""
    from grenier_spark.operators.bpe import bpe_token_counts

    docs = (entry_mod._t(spark, SF, "documents")
            .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
    seg = {"the": ("the", "</w>"), "a": ("a", "</w>")}
    plan = plan_of(bpe_token_counts(docs, seg))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    lines = plan.splitlines()
    ex = [i for i, ln in enumerate(lines)
          if "Exchange" in ln and "Reused" not in ln
          and "Broadcast" not in ln]
    assert any("partial" in ln for ln in lines[min(ex):]), plan


def test_pq_adc_joins_are_broadcast_not_cartesian(spark):
    """ann_pq_topk: queries (with distance tables) broadcast into the
    codes scan and the shortlist re-rank joins broadcast — no
    CartesianProduct, no SortMergeJoin anywhere."""
    plan = plan_of(entry_mod.q_ann_pq_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Broadcast" in plan, plan


def test_kmv_pair_join_is_sketch_scale(spark):
    """source_token_kmv_jaccard: the pair join runs over merged sketch
    rows (KB-scale) as a broadcast join — never a CartesianProduct, and
    no extra token-scale exchange beyond the build's sketch-row merges."""
    plan = plan_of(entry_mod.q_source_token_kmv_jaccard(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan, plan


def test_fd_projection_never_shuffles_vectors(spark):
    """fd_projection_quality: the FD build rides the sketch pipeline (KB
    partials), directions broadcast inside the projection UDF's closure,
    the quality aggregation exchanges only narrow scalar rows, and the
    per-label bound frame broadcast-joins — no Exchange may carry the
    embedding payload and nothing sort-merges."""
    plan = plan_of(entry_mod.q_fd_projection_quality(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "Reused" not in ln:
            assert "embedding" not in ln, ln


def test_pmi_topk_is_take_ordered_not_global_sort(spark):
    """pmi_collocations' top-k must plan as TakeOrdered (per-partition
    top-k + driver merge of k rows), never a full global Sort of the
    candidate set."""
    plan = plan_of(entry_mod.q_pmi_collocations(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_moments_build_no_exchange_before_partials(spark):
    """The 'mom' kind rides the same scan-stage partial build as every
    other sketch: no Exchange between the parquet scan and the Arrow
    stage, and the rows that do shuffle are 76-byte states."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = build_sketches(ev, [SketchSpec.of("m", "mom", "value")],
                        group_cols=["event_type"])
    plan = plan_of(df)
    lines = plan.splitlines()
    py_idx = max(i for i, ln in enumerate(lines)
                 if "MapInArrow" in ln or "ArrowEvalPython" in ln)
    scan_idx = max(i for i, ln in enumerate(lines) if "Scan parquet" in ln)
    assert not any("Exchange" in ln for ln in lines[py_idx:scan_idx])


def test_source_profile_single_scan(spark):
    """The one-pass profile query: three sketch kinds from ONE parquet
    scan (pivot over the sketch rows, no self-join re-build)."""
    plan = plan_of(entry_mod.q_source_profile(spark, SF))
    assert plan.count("Scan parquet") == 1, plan


def test_bloom_pruned_join_probe_is_scan_stage(spark):
    """bloom_pruned_orders: the Bloom probe (ArrowEvalPython) must consume
    the orders scan DIRECTLY — no Exchange between the probe and the fact
    scan below it, so pruned rows never shuffle; candidate-scale exchanges
    ABOVE the probe (the verify join / final aggregate) are the point."""
    plan = plan_of(entry_mod.q_bloom_pruned_orders(spark, SF))
    lines = plan.splitlines()
    py = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert py, plan
    probe = max(py)
    scan = min(i for i, ln in enumerate(lines)
               if i > probe and "Scan parquet" in ln)
    between = lines[probe:scan]
    assert not any("Exchange" in ln for ln in between), "\n".join(between)
    assert "CartesianProduct" not in plan, plan


def test_grouped_deterministic_build_merges_in_one_stage(spark, docs_tiny):
    """build_sketches_deterministic routes each group's rows to one
    partition, so every merge key gets exactly one partial row: one merge
    stage (one FlatMapGroupsInArrow), not the salted two-stage tree."""
    from grenier_spark.operators.sketch_build import \
        build_sketches_deterministic

    docs = spark.read.parquet(docs_tiny)
    df = build_sketches_deterministic(
        docs, [SketchSpec.of("k", "kll", "n_tok", k=64)],
        group_cols=["source"], order_cols=["n_tok"])
    assert plan_of(df).count("FlatMapGroupsInArrow") == 1


def test_rolling_merge_exchanges_only_sketch_rows(spark, docs_tiny):
    """Trailing-window rollup (operators/rolling.py): every Exchange in
    the rolled plan carries (group, day, sketch)-shaped KB rows — the raw
    value column must never cross the wire (the corpus is scanned once by
    the partial builder; the window union is pure sketch algebra)."""
    import pandas as pd

    from grenier_spark.operators.rolling import rolling_sketch_union

    pdf = pd.DataFrame({
        "day": [i % 5 for i in range(200)],
        "uid": [float(i % 37) for i in range(200)]})
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame(pdf)
        per_day = build_sketches(
            df, [SketchSpec.of("s", "dd", "uid", alpha=0.02)],
            group_cols=["day"])
        rolled = rolling_sketch_union(per_day, "day", 3, "dd")
        outs = _exchange_output_names(rolled)
        assert outs, "expected at least one Exchange"
        for names in outs:
            assert "uid" not in names, outs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_exact_substr_no_text_on_any_exchange(spark):
    """suffix_match_lengths: raw `text` must never cross an Exchange — the
    scan stage reduces it to 16-hex word-id arrays, the anchor-count
    Exchange carries keys only, and the only array-bearing Exchange is the
    doc-keyed candidate join moving the per-doc hash arrays (`_h`,
    16 B/word — ~2-3x raw text volume, the one heavy exchange to size
    for at the 10^12-token design point) exactly once; shrinking the id
    width (8-hex) halves it at higher collision odds if that exchange
    ever binds. The candidate-scale suffix-order Exchange
    carries bounded `_ext` strings (16 * ext_cap bytes), never unbounded
    payloads. No Window operator anywhere: a corpus-wide boilerplate
    anchor becomes a partition-local sorted run, not a one-task window."""
    from grenier_spark.operators.dedup import suffix_match_lengths

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.createDataFrame(
            [(i, "w%d " % i + "a b c d e f g h i j") for i in range(20)],
            "doc_id long, text string")
        df = suffix_match_lengths(docs, min_len=6, ext_cap=12)
        assert "Window" not in plan_of(df)
        outs = _exchange_output_names(df)
        assert outs, "expected at least one Exchange"
        for names in outs:
            assert "text" not in names, outs
        # the anchor-count aggregation exchange is key-only
        assert any(set(names) <= {"anchor", "_c", "count", "count(1)"}
                   or all(n in ("anchor", "_c") or n.startswith("count")
                          for n in names)
                   for names in outs), outs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_weighted_dd_build_scan_prunes_and_shuffles_kb_rows(spark):
    """build_dd_weighted reads ONLY group + value + weight columns, and
    every non-broadcast Exchange sits ABOVE the mapInArrow partial build
    — the rows it moves are (group, sketch_name, KB blob, counters)
    partials, never the raw stream."""
    from grenier_spark.operators.sketch_build import build_dd_weighted

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = build_dd_weighted(
        docs.where(F.col("n_chars").isNotNull())
        .select("source", F.col("n_chars").cast("double").alias("v"),
                F.col("doc_id").alias("w")),
        "v", "w", ["source"])
    plan = plan_of(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "text" not in scan[0] and "lang" not in scan[0]
    lines = plan.splitlines()
    arrow_at = min(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    for i, ln in enumerate(lines):
        if "Exchange" in ln and "Broadcast" not in ln:
            # the tree prints root-first: above = smaller index
            assert i < arrow_at, plan


def test_priority_sample_build_is_window_free_and_pruned(spark):
    """build_priority_sample: md5 priorities are scan-stage JVM
    projections, no Window node anywhere, and only partial rows
    shuffle."""
    from grenier_spark.operators.sketch_build import build_priority_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = build_priority_sample(
        docs.where(F.col("n_chars").isNotNull())
        .select("doc_id", "source", F.col("n_chars").alias("w")),
        k=16, weight_col="w", group_cols=["source"])
    plan = plan_of(df)
    assert "Window" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" not in scan[0] and "lang" not in scan[0]
    lines = plan.splitlines()
    arrow_at = min(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    for i, ln in enumerate(lines):
        if "Exchange" in ln and "Broadcast" not in ln:
            assert i < arrow_at, plan


def _hash_exchanges_above_map(df) -> int:
    """Hash Exchanges above the MapInArrow partial build (the merge
    shuffles); asserts none sits below it."""
    lines = plan_of(df).splitlines()
    arrow_at = min(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    hashed = [i for i, ln in enumerate(lines)
              if "Exchange hashpartitioning" in ln]
    assert all(i < arrow_at for i in hashed), "\n".join(lines)
    return len(hashed)


def _built_without_jobs(spark, build):
    """``build()``'s DataFrame, asserting that building it started no
    Spark job."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("merge-shape-gate", "building must not run jobs")
    try:
        df = build()
        assert list(sc.statusTracker().getJobIdsForGroup(
            "merge-shape-gate")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return df


def test_merge_takes_one_stage_when_fan_in_fits(spark, docs_tiny, tmp_path):
    """One merge shuffle when no (group, spec) can get more than `fanout`
    partial rows: a parquet scan of at most `fanout` partitions, a
    `repartition(3)` (the count of the shuffle below the partial build),
    or a native build with `n_tasks <= fanout`. The salted two-stage tree
    stays when the bound is larger (13 partitions, 5 readers, fanout 4) or
    unknown (a cached input, the sketch cube). Building the DataFrames
    starts no Spark job: the bound comes from the plan or from
    `n_tasks`."""
    import pyarrow.parquet as pq

    from grenier_spark.operators.cube import sketch_cube
    from grenier_spark.operators.sketch_build import build_sketches_from_files

    specs = [SketchSpec.of("h", "hll", "tokens", p=10)]
    tbl = pq.read_table(docs_tiny)
    files = []
    for i in range(5):
        files.append(str(tmp_path / f"part-{i}.parquet"))
        pq.write_table(tbl.slice(i * 200, 200), files[-1])
    docs = spark.read.parquet(docs_tiny)
    one_scan = _built_without_jobs(spark, lambda: build_sketches(
        docs, specs, ["source"], fanout=4))
    one_shuffled = _built_without_jobs(spark, lambda: build_sketches(
        docs.repartition(3), specs, ["source"], fanout=4))
    one_native = _built_without_jobs(spark, lambda: build_sketches_from_files(
        spark, files, specs, ["source"], fanout=4, n_tasks=4))
    two_scan = _built_without_jobs(spark, lambda: build_sketches(
        docs.repartition(13), specs, ["source"], fanout=4))
    two_native = _built_without_jobs(spark, lambda: build_sketches_from_files(
        spark, files, specs, ["source"], fanout=4, n_tasks=5))
    cached = docs.cache()
    try:
        two_cached = _built_without_jobs(spark, lambda: build_sketches(
            cached, specs, ["source"], fanout=4))
    finally:
        cached.unpersist()
    assert _hash_exchanges_above_map(one_scan) == 1
    assert _hash_exchanges_above_map(one_shuffled) == 1
    assert _hash_exchanges_above_map(one_native) == 1
    assert _hash_exchanges_above_map(two_scan) == 2
    assert _hash_exchanges_above_map(two_native) == 2
    assert _hash_exchanges_above_map(two_cached) == 2
    # the cube passes no bound: its lattice merge keeps the salted stage
    cube = sketch_cube(docs, ["source"], specs)
    assert plan_of(cube).count("FlatMapGroupsInArrow") == 2
