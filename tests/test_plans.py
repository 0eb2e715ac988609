"""Physical-plan discipline: pushdown, codegen, broadcast — the
100-TB-scale assertions (SURVEY.md §4)."""

import os

import pytest

from conftest import SF_DIR

LI = os.path.join(SF_DIR, "lineitem.parquet")


class TestPushdown:
    def test_compiled_filter_pushes_to_scan(self, ctx):
        """A compiled UDF filter must reach the parquet scan as a pushed
        filter — the whole point of the AST->Column compiler."""
        from tuplex_spark.plans import explain_summary
        ds = (ctx.parquet(LI)
              .filter(lambda x: x["l_quantity"] < 10.0))
        s = explain_summary(ds.toDF())
        assert s["pushed_filters"], s["plan"]
        assert not s["python_eval"], "compiled filter must not hit Python"

    def test_column_pruning_through_select(self, ctx):
        from tuplex_spark.plans import explain_summary
        ds = (ctx.parquet(LI)
              .selectColumns(["l_orderkey", "l_quantity"]))
        plan = explain_summary(ds.toDF())["plan"]
        assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]

    def test_compiled_map_stays_in_codegen(self, ctx):
        from tuplex_spark.plans import explain_summary
        ds = (ctx.parquet(LI)
              .map(lambda x: {"k": x["l_orderkey"],
                              "v": x["l_extendedprice"] * 0.9}))
        s = explain_summary(ds.toDF())
        assert s["wholestage_codegen"]
        assert not s["python_eval"]

    def test_fallback_map_uses_arrow_not_rowpickle(self, ctx):
        from tuplex_spark.plans import explain_summary

        def f(x):
            t = id(object()) * 0  # uncompilable call -> fallback
            return x + t + 3
        ds = ctx.parquet(LI).selectColumns(["l_linenumber"]).mapColumn(
            "l_linenumber", f)
        s = explain_summary(ds._df)
        assert s["python_eval"]  # fallback engaged, Arrow-batched


def _trim_step(x):
    i = x.find(",")
    j = x.rfind(" ")
    head = x[i + 1:] if i >= 0 else x
    tail = head[:j] if j > 0 else head
    return tail + x[:2]


class TestPushdownBarrier:
    def test_filter_after_compiled_string_chain_plans_small(self, ctx):
        """A filter after compiled ops whose staged locals feed each
        other must not get the ops' expression trees substituted into
        its predicate through every staged layer: ``_project``'s
        pushdown barrier stops that.  Without it, the plan of two of
        these ops and the filter is 454k chars long, and it grows
        exponentially with each op."""
        rows = ["a, bc d", "ef, g h, ij", "k"]
        ds = ctx.parallelize(rows, columns=["s"])
        before = ctx.metrics.compiledUDFs
        for _ in range(6):
            ds = ds.mapColumn("s", _trim_step)
            rows = [_trim_step(r) for r in rows]
        ds = ds.filter(lambda x: len(x) > 4)
        assert ctx.metrics.compiledUDFs == before + 7
        plan = ds.toDF()._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan) < 100_000, len(plan)
        assert ds.collect() == [r for r in rows if len(r) > 4]


class TestJoins:
    def test_small_dim_join_broadcasts(self, spark):
        """AQE/planner should broadcast nation against lineitem-scale."""
        from tuplex_spark.plans import explain_summary
        import __spark_entry__ as em
        df = em.q_tpch_q5(spark, SF_DIR)
        s = explain_summary(df)
        assert s["broadcast_join"], s["plan"]


class TestAggregates:
    def test_recognized_fold_is_native_partial_agg(self, ctx):
        from tuplex_spark.plans import explain_summary
        ds = (ctx.parquet(LI)
              .selectColumns(["l_returnflag", "l_quantity"])
              .aggregateByKey(lambda a, b: a + b,
                              lambda a, x: a + x["l_quantity"], 0.0,
                              ["l_returnflag"]))
        s = explain_summary(ds._df)
        assert not s["python_eval"], \
            "recognized fold must lower to native aggregates"
        assert "partial" in s["plan"].lower() or "HashAggregate" in s["plan"]


class TestScaleOps:
    def test_minhash_no_cartesian_and_partial_agg(self, spark):
        """LSH must be equality-join + partial-min agg, never cross join
        and never an inlined generator filter (InferFiltersFromGenerate
        is excluded in build_session)."""
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        plan = dedup.minhash_lsh_pairs(df) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "partial_min" in plan or "HashAggregate" in plan
        # the staged token split must appear ONCE per scan branch, not
        # inside a pushed-down generator filter
        opt = dedup.minhash_lsh_pairs(df) \
            ._jdf.queryExecution().optimizedPlan().toString()
        for line in opt.splitlines():
            if line.strip().startswith("+- Filter") or \
                    line.strip().startswith("Filter"):
                assert "transform(" not in line, \
                    "generator expression inlined into a Filter"

    def test_bucket_pairs_caps_before_list_agg(self, spark):
        """The max_bucket skew guard must be STRUCTURAL: bucket
        membership is cut by a row_number window (spillable sort,
        map-side WindowGroupLimit pruning) BEFORE collect_list, so a
        degenerate bucket — e.g. 10k exact duplicates sharing every
        band hash because the user skipped dedup_exact — can never
        build an unbounded aggregation buffer.  The window must also
        REUSE its exchange for the aggregate (no extra shuffle)."""
        from tuplex_spark.functions import dedup
        docs = spark.createDataFrame(
            [(i, "the same exact duplicated document text body")
             for i in range(10_000)], "doc_id long, text string")
        out = dedup.minhash_lsh_pairs(docs, max_bucket=20)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # cap sits below the list aggregate in the plan tree
        agg_at = plan.index("collect_list")
        assert "WindowGroupLimit" in plan[agg_at:], \
            "row_number cap must precede collect_list"
        # map-side (Partial) group-limit prunes before the shuffle too
        assert "Partial" in plan[plan.index("WindowGroupLimit"):]
        # window + aggregate share one hashpartitioning(band, h)
        import re
        bh = [m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                                    plan) if "band" in m]
        assert len(bh) == 1, bh
        # correctness: C(20,2) pairs per band, deduped across bands
        assert out.count() == 190

    def test_jaccard_no_cartesian(self, spark):
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        plan = dedup.ngram_jaccard_pairs(df) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_winnow_no_cartesian_single_window_sort(self, spark):
        """Winnowing pairs: candidate generation is intra-bucket combos
        from ONE grouped inverted index (no candidate self-join), and
        the only per-document ordering is the fingerprint window —
        never a Cartesian, never a nested-loop join."""
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        plan = dedup.winnow_pairs(df) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan

    def test_winnow_decontaminate_broadcasts_reference(self, spark):
        """The reference fingerprint set must BROADCAST (map-side hash
        join on the corpus fingerprints), never shuffle the corpus side
        to a sort-merge join on the fingerprint hash."""
        from pyspark.sql import functions as F
        from tuplex_spark.functions import dedup
        docs = spark.read.parquet(os.path.join(SF_DIR,
                                               "documents.parquet"))
        ref = docs.filter(F.col("doc_id") % 17 == 0)
        plan = dedup.winnow_decontaminate(docs, ref, k=3, w=4,
                                          mode="flag") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_loop_udf_stays_native(self, spark):
        """ds_loops (fold + static unroll) must compile to Column exprs:
        no Python-eval operator anywhere in the plan."""
        import __spark_entry__ as em
        from tuplex_spark.plans import explain_summary
        assert not explain_summary(
            em.q_ds_loops(spark, SF_DIR))["python_eval"]

    def test_resolve_with_args_reraise_stays_native(self, spark):
        """ds_resolve's UDF now reads e.args and re-raises inside the
        handler (round 8): the whole resolver loop must still compile
        to Column exprs — no Python eval anywhere in the plan."""
        import __spark_entry__ as em
        from tuplex_spark.plans import explain_summary
        assert not explain_summary(
            em.q_ds_resolve(spark, SF_DIR))["python_eval"]

    def test_simhash_band_blocking_covers_hamming_ball(self):
        """(k+1)-band pigeonhole property: any two fingerprints within
        Hamming distance k agree exactly on >=1 of the k+1 bands — the
        scale-safe replacement for the old fixed 256-bucket top-byte
        block (whose per-bucket self-join went quadratic at corpus
        scale)."""
        import random
        from tuplex_spark.functions.dedup import _SIMHASH_BITS
        k = 3
        nb, w = k + 1, _SIMHASH_BITS // (k + 1)
        mask = (1 << w) - 1
        rng = random.Random(7)
        for _ in range(500):
            a = rng.getrandbits(_SIMHASH_BITS)
            flip = rng.sample(range(_SIMHASH_BITS), rng.randint(0, k))
            b = a
            for bit in flip:
                b ^= 1 << bit
            shared = any((a >> (i * w)) & mask == (b >> (i * w)) & mask
                         for i in range(nb))
            assert shared, (a, b, flip)

    def test_simhash_no_cartesian_fine_buckets(self, spark):
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        plan = dedup.simhash_pairs(df) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # band key space: 4 bands x 2^15 values — granularity grows with
        # the corpus instead of pinning at 256 blocks
        from tuplex_spark.functions.dedup import _SIMHASH_BITS
        assert _SIMHASH_BITS // 4 >= 15

    def test_embedding_dedup_no_label_blocking(self, spark):
        """Buckets must come from vector geometry (SRP signatures), not a
        metadata column — label blocking has luck-based recall and
        per-class quadratic joins."""
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        out = dedup.embedding_dup_pairs(df, threshold=0.45)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # column pruning proves no label dependence: the parquet scan
        # must read only the id + vector columns
        from tuplex_spark.plans import formatted_plan
        fp = formatted_plan(out)
        for part in fp.split("ReadSchema: ")[1:]:
            assert "label" not in part.split("\n")[0], part.split("\n")[0]

    def test_q21_single_fact_join_pass(self, spark):
        """q21's per-order max/ndistinct must ride a window over ONE
        lineitem⋈orders pass — the old groupBy+join-back shape scanned
        both fact tables twice (5 scans instead of 3)."""
        import __spark_entry__ as em
        plan = em.q_tpch_q21(spark, SF_DIR) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 3, plan

    def test_q2_single_offer_subplan(self, spark):
        """q2's per-part min must come from a window, not a second
        evaluation of the offers->supplier->nation->region subplan.
        6 scans: lineitem once, part twice (semi-join prefilter + final
        join), supplier/nation/region once each — the shape to catch is
        lineitem or the offers subtree appearing twice."""
        import __spark_entry__ as em
        plan = em.q_tpch_q2(spark, SF_DIR) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 6, plan
        assert plan.count("lineitem") == 1, plan

    def test_q17_prefilters_before_avg(self, spark):
        """q17's per-part average must aggregate only the Brand#13 part
        subset (semi-join before the groupBy), not all of lineitem."""
        import __spark_entry__ as em
        df = em.q_tpch_q17(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan

    def test_q4_no_redundant_distinct(self, spark):
        """left_semi dedups its build side; an explicit distinct() adds
        a useless extra shuffle of all lineitem keys."""
        import __spark_entry__ as em
        df = em.q_tpch_q4(spark, SF_DIR)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        # one Aggregate: the final groupBy.  A distinct would add another.
        assert opt.count("Aggregate [") == 1, opt

    def test_ann_batch_single_scan_mapside_limit(self, spark):
        """Batch ANN: corpus scanned ONCE for all queries, both vector
        UDFs fused in ONE Arrow pass BELOW the posexplode (an inline
        vec_norm lands above the Generate and recomputes the norm once
        per query), and the per-query top-k prunes map-side
        (WindowGroupLimit Partial before the exchange)."""
        import __spark_entry__ as em
        df = em.q_ann_batch(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("ArrowEvalPython") == 1, plan
        gen = plan.index("Generate posexplode")
        assert "ArrowEvalPython" not in plan[:gen], \
            "vector UDF evaluated above the explode (once per query)"
        # Final limit above the exchange, Partial prune below it
        assert plan.count("WindowGroupLimit") == 2, plan
        assert "Partial" in plan[plan.rindex("WindowGroupLimit"):], plan
        # narrow scan: id + vector only
        from tuplex_spark.plans import formatted_plan
        fp = formatted_plan(df)
        for part in fp.split("ReadSchema: ")[1:]:
            assert "label" not in part.split("\n")[0]

    def test_sketch_quantiles_bounded_driver_state(self, spark):
        """Quantile sketch: each branch is scan -> TakeOrdered(k) ->
        single-row collect_list agg — the only rows that cross a
        shuffle are the per-partition top-k, and the aggregation
        buffer is bounded at k doubles.  No global sort, no window."""
        import __spark_entry__ as em
        df = em.q_sketch_quantiles(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("TakeOrderedAndProject") == 2, plan
        assert "Exchange rangepartitioning" not in plan, \
            "global sort crept in — TakeOrdered was the contract"
        # collect_list sits ABOVE TakeOrdered in both branches (bounded
        # input), never directly over the scan
        first = plan.index("collect_list")
        assert "TakeOrderedAndProject" in plan[first:], plan
        assert plan.count("Scan parquet") == 2, plan

    def test_mm_decode_is_single_narrow_python_stage(self, spark):
        """Multimodal decode: exactly one Arrow python stage; the only
        permitted Exchange is the round-robin widening of a
        narrower-than-parallelism input ahead of the CPU-bound codec
        (multimodal._spread) — never a key shuffle."""
        import __spark_entry__ as em
        df = em.q_mm_decode(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        nex = plan.count("Exchange")
        assert nex <= 1, plan
        if nex:
            assert "RoundRobinPartitioning" in plan, plan

    def test_spread_noop_on_wide_input(self, spark):
        """_spread must NOT add a shuffle when the input already has
        >= defaultParallelism partitions (the 100 TB scan shape)."""
        from pyspark.sql import functions as F
        from tuplex_spark.functions import multimodal
        n = spark.sparkContext.defaultParallelism
        df = spark.range(1000, numPartitions=n + 1) \
            .select(F.col("id").alias("asset_id"),
                    F.col("id").cast("string").cast("binary")
                     .alias("payload"))
        out = multimodal.extract_features(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestSingleScanDedup:
    """Every LSH pipeline's heavy upstream must be planned ONCE: the
    window-cap + self-join shape planned it as two independent subtrees
    (no ReuseExchange: 2 scans / 4 explodes in simhash's plan) and this
    guards the _bucket_pairs regression."""

    def _plan(self, spark, build):
        import os
        df = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        return build(df)._jdf.queryExecution().executedPlan().toString()

    def test_minhash_single_scan(self, spark):
        from tuplex_spark.functions import dedup
        plan = self._plan(spark, dedup.minhash_lsh_pairs)
        assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")

    def test_simhash_single_scan(self, spark):
        from tuplex_spark.functions import dedup
        plan = self._plan(spark, dedup.simhash_pairs)
        assert plan.count("Scan parquet") == 1

    def test_substring_spans_single_scan_two_shuffles(self, spark):
        """Exact-substring dedup (Lee et al.): ONE scan + ONE explode,
        exactly two Exchanges (the corpus-wide gram-hash window count
        and the per-doc span-merge window) — no self-join, no python,
        no cartesian."""
        from tuplex_spark.functions import dedup
        plan = self._plan(
            spark, lambda df: dedup.substring_dup_spans(df, min_len=12))
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Generate") == 1, plan
        assert plan.count("Exchange") == 2, plan
        assert "Python" not in plan, plan
        assert "BroadcastNestedLoop" not in plan
        assert "Cartesian" not in plan

    def test_jaccard_bounded_recompute(self, spark):
        """The inverted index is deliberately NOT persisted (measured
        3-4x slower than recomputing; see dedup.py) — the index subtree
        recomputes once per consumer: exactly 3 scans (pairs + the two
        size joins), no cached relation, and never a cross join."""
        from tuplex_spark.functions import dedup
        plan = self._plan(spark, dedup.ngram_jaccard_pairs)
        assert "InMemoryTableScan" not in plan
        assert plan.count("Scan parquet") == 3, plan
        assert "CartesianProduct" not in plan

    def test_embedding_single_signature_pass(self, spark):
        import os
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        plan = dedup.embedding_dup_pairs(df, threshold=0.45) \
            ._jdf.queryExecution().executedPlan().toString()
        # one scan computes the SRP signatures; the other scans only
        # fetch raw vectors for the id-equality joins (cheap) — the
        # expensive signature pass is never duplicated
        assert plan.count("ArrowEvalPython") <= 2
        assert plan.count("Scan parquet") <= 3
        assert "CartesianProduct" not in plan

    def test_embedding_verify_stage_is_python_free(self, spark):
        """The per-candidate-pair verify cosine must be a codegen Column
        expression, NOT an Arrow UDF: candidate pairs outnumber the
        corpus ~100x in the LSH regime, and shipping two 64-dim vectors
        per pair through Arrow measured 5.4 Python-worker-MINUTES for
        2M sf1 pairs (x2 — the threshold filter duplicated the
        ArrowEvalPython node below the projection), the dominant and
        wildly variable term of dedup_embedding.  The only Python in
        the plan is the corpus-sized signature UDF (keys_udf)."""
        import os
        from tuplex_spark.functions import dedup
        df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        out = dedup.embedding_dup_pairs(df, threshold=0.45)
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        assert "cos_udf" not in opt
        assert opt.count("keys_udf") == 1, opt.count("keys_udf")

    def test_pq_scoring_is_python_free_and_takeordered(self, spark):
        """pq_topk's ADC stage must add NO Python beyond pq_encode's m
        per-subspace assignment passes: the distance-table lookups are
        literal-array element_at's (whole-stage codegen) and the top-k
        lowers to TakeOrdered — at 100 TB the query cost is the codes
        scan, never an Arrow round-trip per row."""
        import os
        from tuplex_spark.functions import similarity
        df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        qv = [float(x) for x in df.filter("vec_id = 0")
              .select("embedding").head()[0]]
        books = similarity.pq_train(df, m=4, c=4, rounds=1)
        enc_plan = similarity.pq_encode(df, books) \
            ._jdf.queryExecution().executedPlan().toString()
        top = similarity.pq_topk(df, qv, books, k=5)
        top_plan = top._jdf.queryExecution().executedPlan().toString()
        assert (top_plan.count("ArrowEvalPython")
                == enc_plan.count("ArrowEvalPython"))
        assert "TakeOrdered" in top_plan
        assert "Exchange" not in top_plan  # narrow + tree-reduce only

    def test_jvm_cosine_matches_arrow_cosine(self, spark):
        """jvm_cosine (zip_with+aggregate fold) must be bitwise equal to
        _pcos's numpy loop on real vectors — same element-wise
        float->double cast, same left-to-right IEEE accumulation (the
        fold's 0.0 seed only differs on a -0.0 first product, which
        real embedding data never hits)."""
        import os
        from pyspark.sql import functions as F
        from tuplex_spark.functions.similarity import _pcos, jvm_cosine
        df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        a = df.select(F.col("vec_id").alias("ida"),
                      F.col("embedding").alias("va"))
        b = df.select((F.col("vec_id")).alias("idb"),
                      F.reverse("embedding").alias("vb"))
        pairs = a.join(b, a.ida == b.idb).limit(500)
        got = pairs.select(
            jvm_cosine("va", "vb").alias("c"),
            _pcos(F.col("va"), F.col("vb")).alias("p")).collect()
        assert len(got) == 500
        for r in got:
            assert r.c == r.p, (r.c, r.p)


class TestAllTpchPlansNative:
    def test_every_tpch_plan_is_python_free(self, spark):
        """All 22 TPC-H-shaped queries must plan as pure JVM operators:
        no Python-eval operator anywhere."""
        import __spark_entry__ as em
        from tuplex_spark.plans import explain_summary
        for name, q in em.queries().items():
            if not name.startswith("tpch_"):
                continue
            assert not explain_summary(q(spark, SF_DIR))["python_eval"], \
                name

    def test_text_ops_single_projection(self, spark):
        """text_* queries are scan+project only: no exchange at all."""
        import __spark_entry__ as em
        for name in ("text_token_count", "text_quality", "text_langid",
                     "text_fingerprint"):
            plan = em.queries()[name](spark, SF_DIR) \
                ._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, name
            assert "Python" not in plan, name


def _scans_outside_cache(plan: str, table: str) -> int:
    """Count FileScan mentions of ``table`` NOT under an InMemoryRelation
    ancestor.  Spark prints executed adaptive plans with Final+Initial
    sections (every subtree appears twice), so raw substring counts
    over-count; walking the indentation tree is exact for the question
    that matters: is any scan of ``table`` planned OUTSIDE the cache?"""
    lines = plan.splitlines()

    def indent(ln):
        m = ln.find("+-")
        if m >= 0:
            return m
        return len(ln) - len(ln.lstrip(" :"))

    n = 0
    for i, ln in enumerate(lines):
        if "FileScan" not in ln or table not in ln:
            continue
        min_d, covered = indent(ln), False
        for j in range(i - 1, -1, -1):
            dj = indent(lines[j])
            if dj < min_d:
                if "InMemoryRelation" in lines[j]:
                    covered = True
                    break
                min_d = dj
                if dj == 0:
                    break
        if not covered:
            n += 1
    return n


class TestGroupOverTotalSingleExecution:
    """q11/q15 group-over-total: the per-key aggregate feeds TWO
    consumers (global max/total + join-back).  Catalyst does NOT emit a
    ReusedExchange across the branches, so without the persist the whole
    lineitem⋈...⋈aggregate subtree executes twice — 2× the dominant
    scan+join cost at 100 TB.  These assert the executed adaptive plan:
    every lineitem scan sits under the cached relation, the cache is
    read by both branches, and no unpartitioned Window reappears."""

    def _executed(self, spark, q):
        df = q(spark, SF_DIR)
        df.collect()  # AQE plans are final only after an action
        return df._jdf.queryExecution().executedPlan().toString()

    def test_q15_lineitem_behind_cache_no_window(self, spark):
        import __spark_entry__ as em
        plan = self._executed(spark, em.q_tpch_q15)
        assert _scans_outside_cache(plan, "lineitem") == 0, plan
        assert "InMemoryTableScan" in plan
        assert "Window" not in plan
        assert "CartesianProduct" not in plan

    def test_q22_customer_behind_cache(self, spark):
        """q22's filtered customer subset feeds both the scalar-avg
        subquery and the main anti-join side: with the persist, every
        customer scan sits inside the InMemoryRelation build — the last
        known double-scan (round-6 VERDICT item 4)."""
        import __spark_entry__ as em
        plan = self._executed(spark, em.q_tpch_q22)
        assert _scans_outside_cache(plan, "customer") == 0, plan
        assert "InMemoryTableScan" in plan

    def test_q11_lineitem_behind_cache_no_window(self, spark):
        import __spark_entry__ as em
        plan = self._executed(spark, em.q_tpch_q11)
        assert _scans_outside_cache(plan, "lineitem") == 0, plan
        assert "InMemoryTableScan" in plan
        assert "Window" not in plan
        # the lit(1)==lit(1) key constant-folds away -> BNLJ, benign
        # ONLY because the build side is a global aggregate (exactly 1
        # row).  Guarded table-wide in test_every_tpch_plan below.

    def test_every_tpch_plan_bnlj_discipline(self, spark):
        """No TPC-H plan may contain a BroadcastNestedLoopJoin except
        the group-over-total / scalar-subquery queries whose build side
        is a 1-row global aggregate (q11/q15 constant-key join-back,
        q22's c_acctbal > avg inequality join)."""
        import __spark_entry__ as em
        allowed = {"tpch_q11", "tpch_q15", "tpch_q22"}
        for name, q in em.queries().items():
            if not name.startswith("tpch_"):
                continue
            plan = q(spark, SF_DIR) \
                ._jdf.queryExecution().executedPlan().toString()
            if name not in allowed:
                assert "BroadcastNestedLoopJoin" not in plan, name


def _codegen_stats(df) -> list[int]:
    """maxMethodCodeSize (java bytecode bytes) of every WholeStageCodegen
    subtree in the df's executed plan, via the debug package's
    codegenString.  Executes the df first: under AQE the physical plan
    carries no WholeStageCodegen wrappers until its stages actually
    materialize, so an unexecuted probe reports an empty (useless)
    stats list.  Empty list AFTER execution = genuinely no WSCG."""
    import re
    df.collect()
    jvm = df.sparkSession._jvm
    pkg = getattr(jvm, "org.apache.spark.sql.execution.debug.package$")
    dbg = getattr(pkg, "MODULE$")
    txt = dbg.codegenString(df._jdf.queryExecution().executedPlan())
    return [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", txt)]


class TestCodegenNotDemoted:
    """janino compiles methods up to 64 KB, but HotSpot silently refuses
    to JIT any method over 8000 bytecodes (-XX:-DontCompileHugeMethods
    is never set) and Spark itself demotes a whole stage to interpreted
    eval above spark.sql.codegen.hugeMethodLimit.  Both demotions are
    SILENT — the plan string still shows WholeStageCodegen — and cost
    10-20x (hit during the round-6 format-spec work: one inlined '{:e}'
    projection printed 1.7 MB of generated code).  These tests read the
    per-subtree maxMethodCodeSize from debug.codegenString, so a future
    expression that outgrows the JIT gets caught in CI, not in a bench
    regression."""

    # graded queries with the heaviest compiled-expression surfaces:
    # format-spec mini-language (ds_strings), compiled loops (ds_loops),
    # the staged json variant (ds_json_udf), the fold verify cosine
    # (dedup_embedding), the fused corpus pipeline (pipeline_clean),
    # plus the round-7 ops most likely to grow expressions (anchor
    # sizes 560-1369 bytecodes — far from the ceiling today)
    HEAVY = ["ds_strings", "ds_loops", "ds_json_udf", "dedup_embedding",
             "pipeline_clean", "text_langid_ngram", "dedup_minhash_sim",
             "sample_quota", "dedup_decontaminate_bloom",
             # round-8: e.args read + re-raise + resolve in one plan
             "ds_resolve"]

    def test_heavy_compiled_queries_stay_jit_compilable(self, spark):
        import __spark_entry__ as em
        qs = em.queries()
        for name in self.HEAVY:
            sizes = _codegen_stats(qs[name](spark, SF_DIR))
            assert sizes, f"{name}: no WholeStageCodegen subtree at all"
            assert max(sizes) < 8000, \
                f"{name}: WSCG method {max(sizes)} bytecodes exceeds " \
                f"HotSpot's 8000-bytecode JIT limit (silent 10-20x " \
                f"interpreted demotion)"

    def test_detection_canary_oversized_expr(self, spark):
        """Prove the probe actually detects oversized methods: one
        projection column's codegen is emitted as a single consume()
        method that Spark never splits, so 300 distinct transcendental
        terms must report a maxMethodCodeSize far beyond the JIT limit
        (measured 48,801 bytecodes).  Built as one flat SQL string —
        a py4j-composed Column tree of this size overflows the
        ColumnNode converter, and ~800 terms trips the SQL parser's
        complexity limit (SQLSTATE 54001)."""
        from pyspark.sql import functions as F
        df = spark.range(10).selectExpr("cast(id as double) as x")
        expr = " + ".join(f"(sin(x*{i})*cos(x+{i}))"
                          for i in range(1, 301))
        out = df.select(F.expr(expr).alias("y"))
        sizes = _codegen_stats(out)
        assert sizes and max(sizes) >= 8000, sizes
