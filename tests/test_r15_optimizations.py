"""Focused regression guards for the round-15 optimizations.

Round-15 work was almost entirely driver-side (single-parse SQL
expressions replacing py4j-heavy DSL trees, attach-once catalog scan
stats feeding the parallelism guard) plus two plan fixes found by
reading the dumps (the scan-side shingling duplication, the duplicated
docs broadcast in the LSH verify join). Values are proven by
test_queries_oracle.py; these pin the *mechanisms* — and, per VERDICT
r14 Next #6, prove the latent ``key_cols`` guards on each similarity /
dedup operator actually fire correctly on an under-split input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bighouse_spark.queries.registry import get
from tests.conftest import SF_CORRECT


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _release_operator_persists():
    yield
    from bighouse_spark.operators.caching import release_tracked

    release_tracked()


# ---------------------------------------------------------------------------
# VERDICT r14 Next #6: the guards that no-op at fixture scale must be
# proven per operator on a synthetic single-partition input: the
# deterministic xxhash64 exchange appears and the result row set is the
# operator's own (rows preserved through the repartition).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    """1024 vectors in ONE partition, big enough that the size-capped
    guard target exceeds 1 (bytes_per_partition default 256 KiB needs
    >256 KiB of estimated input: 1024 rows x 64 doubles ~ 520 KiB)."""
    import math

    rows = [
        (i, [math.sin(i * 13.7 + j) for j in range(64)]) for i in range(1024)
    ]
    return (
        spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        .coalesce(1)
    )


@pytest.fixture(scope="module")
def tiny_docs(spark):
    """400 docs in ONE partition: docs 2i and 2i+1 are identical (a
    guaranteed near-dup pair for every operator) and each pair's
    vocabulary is unique, so no shingle exceeds ngram's max-df cap."""
    rows = [
        (i, " ".join(f"w{i // 2}t{k}" for k in range(30)))
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)


def _assert_guard_fired(df, n_expected: int) -> None:
    plan = physical_plan(df)
    assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan, plan[:2000]
    assert df.count() == n_expected


class TestLatentGuardsFire:
    def test_brute_force_guard(self, spark, tiny_corpus):
        from bighouse_spark.operators.similarity import brute_force_topk

        q = tiny_corpus.where("vec_id < 2")
        out = brute_force_topk(tiny_corpus, q, k=3)
        _assert_guard_fired(out, 2 * 3)

    def test_lsh_ann_guard(self, spark, tiny_corpus):
        from bighouse_spark.operators.similarity import lsh_ann_topk

        q = tiny_corpus.where("vec_id < 2")
        out = lsh_ann_topk(tiny_corpus, q, k=3, bits=2, tables=2, dim=64)
        plan = physical_plan(out)
        assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan
        assert out.count() > 0  # bucketed recall is probabilistic; rows exist

    def test_ivf_guard(self, spark, tiny_corpus):
        from bighouse_spark.operators.similarity import ivf_topk

        q = tiny_corpus.where("vec_id < 2")
        out = ivf_topk(tiny_corpus, q, k=3, n_cells=4, nprobe=4)
        _assert_guard_fired(out, 2 * 3)  # full probe == exact top-k rows

    def test_pq_guard(self, spark, tiny_corpus):
        from bighouse_spark.operators.similarity import pq_topk

        q = tiny_corpus.where("vec_id < 2")
        out = pq_topk(tiny_corpus, q, k=3, dim=64, m=8, n_codes=8)
        _assert_guard_fired(out, 2 * 3)

    def test_simhash_guard(self, spark, tiny_docs):
        from bighouse_spark.operators.dedup import simhash_pairs

        out = simhash_pairs(tiny_docs, shingle_n=2, max_hamming=3)
        plan = physical_plan(out)
        assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan
        assert out.count() >= 0  # executes through the guard

    def test_ngram_guard(self, spark, tiny_docs):
        from bighouse_spark.operators.dedup import ngram_jaccard_pairs

        out = ngram_jaccard_pairs(tiny_docs, shingle_n=2, threshold=0.1)
        plan = physical_plan(out)
        assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan
        assert out.count() > 0  # rotating texts share bigrams

    def test_minhash_guard(self, spark, tiny_docs):
        from bighouse_spark.operators.dedup import minhash_lsh_pairs

        out = minhash_lsh_pairs(
            tiny_docs, shingle_n=2, jaccard_threshold=0.1
        )
        plan = physical_plan(out)
        assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan
        assert out.count() > 0


# ---------------------------------------------------------------------------
# Attach-once catalog scan stats (the probe-free guard hint).
# ---------------------------------------------------------------------------


class TestTableStats:
    def test_stats_match_reality(self, spark):
        import os

        from bighouse_spark.sources.catalog import load_table, table_stats

        nbytes, parts = table_stats(spark, SF_CORRECT, "lineitem")
        assert nbytes == os.path.getsize(f"{SF_CORRECT}/lineitem.parquet")
        assert parts == load_table(
            spark, SF_CORRECT, "lineitem"
        ).rdd.getNumPartitions()

    def test_stats_memoized_per_session_and_table(self, spark):
        from bighouse_spark.sources.catalog import table_stats

        a = table_stats(spark, SF_CORRECT, "orders")
        assert table_stats(spark, SF_CORRECT, "orders") is a
        assert table_stats(spark, SF_CORRECT, "customer") is not a

    def test_unknown_table_rejected(self, spark):
        from bighouse_spark.sources.catalog import load_table, table_stats

        with pytest.raises(AssertionError):
            table_stats(spark, SF_CORRECT, "not_a_table")
        with pytest.raises(AssertionError):
            load_table(spark, SF_CORRECT, "not_a_table")

    def test_hinted_guard_contract(self, spark):
        """The input_stats fast path honors the guard contract with
        zero plan probing: fire iff partitions < min(parallelism x
        factor, ceil(bytes / bytes_per_partition)); strict no-op
        (same object) otherwise — the 100 TB no-op guarantee."""
        from bighouse_spark.operators.parallel import ensure_min_parallelism
        from bighouse_spark.sources.catalog import load_table

        li = load_table(spark, SF_CORRECT, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        # under-split input (1 partition claimed, plenty of bytes)
        fired = ensure_min_parallelism(
            li, key_cols=["l_orderkey"], input_stats=(50 << 20, 1)
        )
        assert fired is not li
        plan = physical_plan(fired)
        assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan
        # already-split input: strict no-op
        assert (
            ensure_min_parallelism(
                li, key_cols=["l_orderkey"], input_stats=(50 << 20, 512)
            )
            is li
        )
        # tiny input: size cap holds the target at 1 -> no-op
        assert (
            ensure_min_parallelism(
                li, key_cols=["l_orderkey"], input_stats=(1 << 10, 1)
            )
            is li
        )


# ---------------------------------------------------------------------------
# Single-parse SQL expressions must stay value-identical to the DSL
# formulations they replaced.
# ---------------------------------------------------------------------------


class TestSqlExprEquivalence:
    def test_cosine_matches_dsl(self, spark, tiny_corpus):
        from bighouse_spark.functions.vectors import cosine_similarity

        def dsl_cos(a, b):
            def _d(c):
                return c.cast("array<double>")

            dot_ = F.aggregate(
                F.zip_with(_d(a), _d(b), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            n1 = F.sqrt(
                F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
            )
            n2 = F.sqrt(
                F.aggregate(_d(b), F.lit(0.0), lambda acc, x: acc + x * x)
            )
            return dot_ / (n1 * n2)

        pairs = tiny_corpus.alias("a").crossJoin(
            tiny_corpus.where("vec_id < 3")
            .select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            )
            .alias("b")
        )
        bad = pairs.select(
            dsl_cos(F.col("embedding"), F.col("qv")).alias("o"),
            cosine_similarity("embedding", "qv").alias("n"),
        ).where("o <> n OR (o IS NULL) <> (n IS NULL)")
        assert bad.count() == 0

    def test_simhash_matches_dsl(self, spark, tiny_docs):
        from bighouse_spark.functions.text import with_shingles
        from bighouse_spark.operators.dedup import simhash

        docs = with_shingles(tiny_docs, text_col="text", n=2)

        def dsl_simhash(shingles, bits=64):
            n = F.size(shingles)
            hashes = F.transform(shingles, lambda s: F.xxhash64(s))
            bit_values = F.array(
                *[
                    F.lit((1 << b) if b < 63 else -(2**63)).cast("long")
                    for b in range(bits)
                ]
            )
            positions = F.sequence(F.lit(0), F.lit(bits - 1))
            counts = F.aggregate(
                hashes,
                F.array_repeat(F.lit(0).cast("long"), bits),
                lambda acc, h: F.zip_with(
                    acc,
                    F.transform(
                        positions, lambda i: F.getbit(h, i).cast("long")
                    ),
                    lambda a, b: a + b,
                ),
            )
            return F.aggregate(
                F.zip_with(
                    counts,
                    bit_values,
                    lambda c, v: F.when(c * 2 > n, v).otherwise(
                        F.lit(0).cast("long")
                    ),
                ),
                F.lit(0).cast("long"),
                lambda s, v: s + v,
            )

        bad = docs.select(
            dsl_simhash(F.col("shingles")).alias("o"),
            simhash("shingles").alias("n"),
        ).where("o <> n")
        assert bad.count() == 0


# ---------------------------------------------------------------------------
# The two plan fixes from reading the dumps.
# ---------------------------------------------------------------------------


class TestR15PlanShapes:
    def test_dedup_scan_filter_carries_no_udf(self, spark):
        """The empty-shingle guard must not be pushed to the scan: the
        r14 plans re-evaluated the NGram shingling UDF serialized on
        the scan task (Filter below the repartition Exchange carrying
        UDF(split(text))). The scan-side filter may keep the wrapper's
        cheap token-count predicate only."""
        plan = physical_plan(get("dedup_minhash_lsh").fn(spark, SF_CORRECT))
        scan_side = plan.split("Scan parquet")[0]
        # Find filters that sit below the first exchange: take the text
        # after the LAST Exchange mention up to the scan.
        below_exchange = scan_side.rsplit("Exchange", 1)[-1]
        assert "UDF" not in below_exchange

    def test_dedup_single_docs_broadcast(self, spark):
        """Both verify joins build from one shared docs projection —
        at most one docs-side BroadcastExchange may survive in the
        static plan (plus the candidate-pairs broadcast)."""
        plan = physical_plan(get("dedup_minhash_lsh").fn(spark, SF_CORRECT))
        assert plan.count("BroadcastExchange") <= 2

    def test_dedup_docs_subtrees_canonically_shared(self, spark):
        """The alias-above-join rewrite makes the two docs-side verify
        inputs canonically identical: in the forced sort-merge shape
        (what a 100 TB corpus takes) the static planner must collapse
        the second docs shuffle into a ReusedExchange. r14's
        sh_a/sh_b/id2 renames below the join made this impossible.
        (AQE's TableCacheQueryStage path does not dedupe at runtime in
        Spark 4.1, so the pin runs with AQE off — static plan only.)"""
        old = {
            "spark.sql.adaptive.enabled":
                spark.conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.autoBroadcastJoinThreshold":
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        }
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = get("dedup_minhash_lsh").fn(spark, SF_CORRECT)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
            spark.catalog.clearCache()
        assert plan.count("SortMergeJoin") >= 2
        assert plan.count("ReusedExchange") >= 1


# ---------------------------------------------------------------------------
# Round-15 continuation: MV state sized to the source, and the
# components convergence check that no longer joins old-vs-new.
# ---------------------------------------------------------------------------


class TestMvStateSizing:
    def test_tiny_source_gets_one_state_partition(self, spark, tmp_path):
        """A KB-scale source must create its MV checkpoint with ONE
        streaming-state partition (not the session's shuffle count),
        the session conf must be restored afterwards, and the view's
        rows must be the aggregate of the source."""
        import json
        from pathlib import Path

        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        d = str(tmp_path / "mvsrc")
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("a", 3)], ["k", "v"]
        ).write.parquet(d)
        eng.attach_table("mvsz_src", d)
        before = spark.conf.get("spark.sql.shuffle.partitions")
        eng.execute(
            "CREATE MATERIALIZED VIEW mvsz AS "
            "SELECT k, sum(v) AS s FROM mvsz_src GROUP BY k"
        )
        assert eng._mviews["mvsz"]["state_partitions"] == 1
        # the stream ran with it: Spark pinned it in the checkpoint
        offsets = Path(eng._mviews["mvsz"]["checkpoint"]) / "offsets" / "0"
        meta = json.loads(offsets.read_text().splitlines()[1])
        assert meta["conf"]["spark.sql.shuffle.partitions"] == "1"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        # refresh path: INSERT folds only the new file, conf restored
        eng.execute("INSERT INTO mvsz_src VALUES ('c', 7)")
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        out = eng.execute("SELECT k, s FROM mvsz ORDER BY k")
        assert out.rows == [["a", 4], ["b", 2], ["c", 7]]
        eng.execute("DROP TABLE mvsz")

    def test_remote_source_falls_back_to_session_default(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        eng._attached["fake_remote"] = (
            "s3a://bucket/prefix", "parquet", None,
        )
        assert eng._mv_state_partitions("fake_remote") is None

    def test_state_partitions_scale_with_source_bytes(
        self, spark, tmp_path, monkeypatch
    ):
        """One partition per 64 MiB, capped at the session conf — the
        sizing must follow the measured bytes, not a constant."""
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        d = str(tmp_path / "big")
        eng._attached["sized_src"] = (d, "parquet", None)
        import os as _os

        monkeypatch.setattr(
            _os, "walk", lambda p: [(p, [], ["part-0.parquet"])]
        )
        monkeypatch.setattr(_os.path, "getsize", lambda p: 200 << 20)
        got = eng._mv_state_partitions("sized_src")
        # Cap = cluster default parallelism (stable), NOT the
        # request-scoped shuffle.partitions a knob could narrow.
        cap = int(spark.sparkContext.defaultParallelism)
        # 200 MiB of (pretend) source → ceil(200/64) = 4, unless capped
        assert got == min(cap, 4)


class TestComponentsConvergence:
    def test_converged_graph_stops_after_one_scan(self, spark):
        """A star graph is fully labeled by the init step; the first
        iteration's scan-side check (label < old over the checkpoint
        itself — no old-vs-new join) must report no change and stop.
        Output must be exactly (id, component)."""
        from bighouse_spark.operators.components import (
            connected_components,
        )

        edges = [(0, i) for i in range(1, 12)]
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        out = connected_components(pairs)
        assert out.columns == ["id", "component"]
        got = {r.id: r.component for r in out.collect()}
        assert got == {i: 0 for i in range(12)}

    def test_string_ids_supported(self, spark):
        """The round-start label column is typed from the label
        column itself — string ids must work unchanged."""
        from bighouse_spark.operators.components import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("x", "y")],
            "id_a string, id_b string",
        )
        got = {
            r.id: r.component for r in connected_components(pairs).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


class TestReviewFixes:
    """Pins for the post-review robustness fixes (r15 second pass)."""

    def test_simhash_accepts_column(self, spark, tiny_docs):
        """The public ``Column | str`` signature must work for both
        flavors (the SQL-string rewrite briefly broke the Column
        branch: Spark 4's JVM Column has no nullary ``name()``)."""
        from pyspark.sql import functions as F

        from bighouse_spark.functions.text import with_shingles
        from bighouse_spark.operators.dedup import simhash

        sh = with_shingles(tiny_docs, "text", n=3)
        a = sh.select("doc_id", simhash("shingles").alias("s"))
        b = sh.select("doc_id", simhash(F.col("shingles")).alias("s"))
        assert {(r.doc_id, r.s) for r in a.collect()} == {
            (r.doc_id, r.s) for r in b.collect()
        }

    def test_simhash_accepts_computed_column(self, spark, tiny_docs):
        """A computed Column (not a bare attribute) renders through
        the session's expression bridge."""
        from pyspark.sql import functions as F

        from bighouse_spark.operators.dedup import simhash

        got = tiny_docs.select(
            "doc_id", simhash(F.split("text", " ")).alias("s")
        ).collect()
        want = tiny_docs.selectExpr(
            "doc_id", "split(text, ' ') AS sh"
        ).select("doc_id", simhash("sh").alias("s")).collect()
        assert {(r.doc_id, r.s) for r in got} == {
            (r.doc_id, r.s) for r in want
        }

    def test_mixed_spelling_system_views_fresh_session(self, spark):
        """A statement mixing the dotted and the registered underscore
        spellings must work on a FRESH engine: the scoped refresh has
        to build the underscore-referenced views too (the pre-r15
        full rebuild registered everything)."""
        from bighouse_spark.engine import BigHouseEngine, QueryRequest

        eng = BigHouseEngine(spark)
        # Make sure no stale registration from other tests can mask a
        # failure to refresh.
        for v in ("system_tables", "system_columns"):
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass
        out = eng.execute(QueryRequest(query=(
            "SELECT count() AS c FROM system.tables t "
            "JOIN system_columns c2 ON c2.table = t.name"
        )))
        assert out.rows and out.rows[0][0] >= 0

    def test_mv_state_cap_ignores_request_knobs(self, spark, tmp_path,
                                                monkeypatch):
        """The permanent state-partition cap must come from the
        cluster's defaultParallelism, not the request-scoped
        shuffle.partitions a knob narrows."""
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        d = str(tmp_path / "knobsized")
        eng._attached["knob_src"] = (d, "parquet", None)
        import os as _os

        monkeypatch.setattr(
            _os, "walk", lambda p: [(p, [], ["part-0.parquet"])]
        )
        monkeypatch.setattr(_os.path, "getsize", lambda p: 200 << 20)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            got = eng._mv_state_partitions("knob_src")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        cap = int(spark.sparkContext.defaultParallelism)
        assert got == min(cap, 4) and got > 1

    def test_quote_ident_escapes_backticks(self, spark):
        """Interpolated column names survive embedded backticks — the
        DSL forms the SQL strings replaced handled any name."""
        from bighouse_spark.functions.identifiers import quote_ident
        from bighouse_spark.functions.text import with_shingles
        from bighouse_spark.functions.vectors import cosine_similarity

        assert quote_ident("a`b") == "`a``b`"
        df = spark.createDataFrame(
            [(1, "w x y z")], ["doc_id", "te`xt"]
        )
        out = with_shingles(df, "te`xt", n=2, out_col="sh`out")
        row = out.collect()[0]
        assert row["sh`out"] == ["w x", "x y", "y z"]
        vdf = spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0])], ["v`a", "v`b"]
        )
        sim = vdf.select(
            cosine_similarity("v`a", "v`b").alias("c")
        ).collect()[0].c
        assert abs(sim - 1.0) < 1e-12

    def test_double_lit_nonfinite(self, spark):
        """repr-based double splicing emits 'nanD'/'infD', which do
        not parse; double_lit must render the cast spelling and stay
        bit-exact for finite values."""
        import math

        from bighouse_spark.functions.identifiers import double_lit

        row = spark.sql(
            f"SELECT {double_lit(float('nan'))} AS n, "
            f"{double_lit(float('inf'))} AS p, "
            f"{double_lit(float('-inf'))} AS m, "
            f"{double_lit(0.1)} AS f"
        ).collect()[0]
        assert math.isnan(row.n) and row.p == float("inf")
        assert row.m == float("-inf") and row.f == 0.1

    def test_with_shingles_replaces_existing_out_col(self, spark):
        """withColumn semantics: an existing out_col is replaced in
        place, not duplicated (a duplicate makes every later
        reference AMBIGUOUS)."""
        from bighouse_spark.functions.text import with_shingles

        df = spark.createDataFrame(
            [(1, "a b c", ["stale"])],
            ["doc_id", "text", "shingles"],
        )
        out = with_shingles(df, "text", n=2, out_col="shingles")
        assert out.columns == ["doc_id", "text", "shingles"]
        assert out.select("shingles").collect()[0][0] == ["a b", "b c"]

    def test_ngram_cache_keyed_per_session(self, spark):
        """The NGram transformer memo must be keyed on the owning
        session (its _java_obj dies with the session's gateway)."""
        from bighouse_spark.functions import text as textmod

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        textmod.with_shingles(df, "text", n=2)
        assert spark in textmod._NGRAM_CACHE
        assert (2, "__bh_w_shingles", "__bh_ng_shingles") in (
            textmod._NGRAM_CACHE[spark]
        )

    def test_mv_empty_source_keeps_session_default(self, spark, tmp_path):
        """An empty source says nothing about eventual MV size: the
        state-partition count must stay None (session default), not
        pin 1 into the checkpoint forever."""
        import os

        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        d = str(tmp_path / "emptysrc")
        os.makedirs(d)
        eng._attached["empty_src"] = (d, "parquet", None)
        assert eng._mv_state_partitions("empty_src") is None
