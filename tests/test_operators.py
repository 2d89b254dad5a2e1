"""Operator-level semantics tests for the extension operators
(recall/exactness properties the oracle comparison can't express).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from sql_based_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from sql_based_etl_spark.operators.multimodal import attach_binary, decode_features
from sql_based_etl_spark.operators.similarity import ann_topk, cosine_topk
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def documents(spark):
    from sql_based_etl_spark.queries._util import load

    return load(spark, SF_ORACLE, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    from sql_based_etl_spark.queries._util import load

    return load(spark, SF_ORACLE, "embeddings").cache()


def test_minhash_recall_vs_exact(spark, documents):
    """LSH candidates must recover (nearly) all truly-similar pairs:
    recall vs exact n-gram Jaccard at j≥0.8 should be high (32 hashes /
    8 bands ⇒ P(candidate) ≈ 1-(1-j^4)^8 ≈ 0.998 at j=0.8)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(documents, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(documents, threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)} vs {len(exact)})"
    # precision is exact by construction (jaccard is verified on candidates)
    assert lsh <= exact


def test_exact_dedup_counts(spark, documents):
    """Row-count conservation, plus injected exact copies collapse."""
    copies = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = documents.unionByName(copies)
    out = exact_dedup(with_dups)
    assert out.agg(F.sum("n_copies")).first()[0] == with_dups.count()
    assert out.filter(F.col("n_copies") > 1).count() >= 5
    # representatives keep the lowest id (the original, not the copy)
    assert out.filter(F.col("doc_id") >= 1_000_000).filter(F.col("n_copies") > 1).count() == 0


def test_simhash_symmetry_and_consistency(spark, documents):
    copies = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = simhash_pairs(documents.unionByName(copies), max_hamming=3).collect()
    seen = {(r.doc_a, r.doc_b) for r in pairs}
    assert all(a < b for a, b in seen)
    assert len(seen) == len(pairs)  # distinct
    # injected identical texts must appear with hamming 0
    ham0 = {(a, b) for (a, b) in seen
            if b == a + 1_000_000}
    assert len(ham0) == 5
    assert all(r.hamming == 0 for r in pairs if (r.doc_a, r.doc_b) in ham0)


def test_ann_recall_vs_bruteforce(spark, embeddings):
    """ANN top-5 within-bucket recall vs exact top-5. Single-probe
    8-bit signatures: recall is modest by design; assert it beats
    random and self-consistency holds."""
    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, embeddings, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk(queries, embeddings, k=5).collect()
    }
    recall = len(exact & ann) / len(exact)
    n_queries = queries.count()
    # random expectation: 5 hits of ~500 corpus → ~1%; require far better
    assert recall >= 0.2, f"ANN recall suspiciously low: {recall}"
    assert len(ann) <= 5 * n_queries


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    """IVF probed-cell recall vs exact top-5: 16 cells / 2 probes on
    ~500 vectors ⇒ each query scans ~2/16 of the corpus; recall must
    beat random by a wide margin and never exceed k per query."""
    from pyspark.sql import functions as F

    from sql_based_etl_spark.operators.similarity import ivf_topk_self

    queries = embeddings.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, embeddings, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_self(embeddings, F.col("vec_id") % 50 == 0, k=5).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.2, f"IVF recall suspiciously low: {recall}"
    assert len(ivf) <= 5 * queries.count()


def test_decode_features_exactness(spark, documents):
    """The stub decoder's features must equal a direct Python
    computation on the same bytes (schema + batching don't distort)."""
    sample = documents.orderBy("doc_id").limit(3)
    feats = {r.doc_id: r for r in decode_features(attach_binary(sample)).collect()}
    for row in sample.collect():
        b = row.text.encode()
        n = len(b)
        counts = [0] * 256
        for byte in b:
            counts[byte] += 1
        ent = -sum((c / n) * math.log2(c / n) for c in counts if c)
        f = feats[row.doc_id]
        assert f.n_bytes == n
        assert f.width == 1 + n % 64 and f.height == 1 + (n // 64) % 64
        assert abs(f.mean_byte - round(sum(b) / n, 6)) < 1e-9
        # vectorized row-wise entropy sums in a different float order
        # than the reference fold — equal to well past 6 decimals
        assert abs(f.byte_entropy - round(ent, 6)) < 2e-6


def test_extension_stages_via_pipeline(spark):
    """Extension operators are reachable through the declarative stage
    surface (engine parity for the LLM-pipeline operators)."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    stages = [
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/documents.parquet",
         "outputView": "docs"},
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/embeddings.parquet",
         "outputView": "embs"},
        {"type": "DedupTransform", "inputView": "docs", "outputView": "dups",
         "method": "exact"},
        {"type": "TextAnalysisTransform", "inputView": "docs", "outputView": "quality",
         "analysis": "quality"},
        {"type": "SimilaritySearchTransform", "inputView": "embs", "outputView": "nn",
         "method": "lsh_ann", "k": 3},
        {"type": "MultimodalTransform", "inputView": "docs", "outputView": "bin",
         "operation": "attach_binary"},
        {"type": "MultimodalTransform", "inputView": "bin", "outputView": "feats",
         "operation": "decode_features"},
        {"type": "SQLTransform", "outputView": "bench",
         "sql": "SELECT * FROM docs WHERE doc_id % 20 = 0"},
        {"type": "SQLTransform", "outputView": "train",
         "sql": "SELECT * FROM docs WHERE doc_id % 20 <> 0"},
        {"type": "DecontaminateTransform", "inputView": "train",
         "benchmarkView": "bench", "outputView": "leaks", "method": "exact"},
        {"type": "DecontaminateTransform", "inputView": "train",
         "benchmarkView": "bench", "outputView": "leaks_bloom", "method": "bloom"},
        {"type": "DedupTransform", "inputView": "embs", "outputView": "semdups",
         "method": "semantic_cosine", "threshold": 0.3, "trainIters": 1},
        {"type": "TextAnalysisTransform", "inputView": "docs",
         "outputView": "keywords", "analysis": "tfidf", "topK": 2},
    ]
    ctx = Pipeline(spark).run(stages)
    assert ctx.views["dups"].columns == ["doc_id", "n_copies"]
    assert "quality_score" in ctx.views["quality"].columns
    assert ctx.views["nn"].columns == ["query_id", "neighbor_id", "score", "rank"]
    assert ctx.views["feats"].count() == ctx.views["docs"].count()
    # bloom is a zero-false-negative pre-filter of the exact method
    exact_ids = {r.doc_id for r in ctx.views["leaks"].collect()}
    bloom_ids = {r.doc_id for r in ctx.views["leaks_bloom"].collect()}
    assert exact_ids <= bloom_ids
    assert ctx.views["semdups"].columns == ["cell", "id_a", "id_b", "cosine"]
    kw = ctx.views["keywords"]
    assert kw.columns == ["doc_id", "word", "tf", "df", "score", "rank"]
    assert kw.groupBy("doc_id").count().agg({"count": "max"}).collect()[0][0] <= 2


def test_file_format_stages_roundtrip(spark, tmp_path):
    """JSONExtract / ORCExtract / FileLoad stages round-trip a view
    through each format, with partitionBy layout on the parquet sink."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    base = str(tmp_path)
    stages = [
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/nation.parquet",
         "outputView": "nation"},
        {"type": "FileLoad", "inputView": "nation", "format": "json",
         "outputURI": f"{base}/nation_json"},
        {"type": "FileLoad", "inputView": "nation", "format": "orc",
         "outputURI": f"{base}/nation_orc", "numPartitions": 1},
        {"type": "FileLoad", "inputView": "nation", "format": "parquet",
         "outputURI": f"{base}/nation_part", "partitionBy": ["n_regionkey"]},
        {"type": "JSONExtract", "inputURI": f"{base}/nation_json",
         "schema": "n_nationkey long, n_name string, n_regionkey int",
         "outputView": "nation_from_json"},
        {"type": "ORCExtract", "inputURI": f"{base}/nation_orc",
         "outputView": "nation_from_orc"},
        {"type": "ParquetExtract", "inputURI": f"{base}/nation_part",
         "outputView": "nation_from_part"},
    ]
    ctx = Pipeline(spark).run(stages)
    n = ctx.views["nation"].count()
    assert ctx.views["nation_from_json"].count() == n
    assert ctx.views["nation_from_orc"].count() == n
    assert ctx.views["nation_from_part"].count() == n
    # hive-style partition dirs exist → downstream scans can prune
    import os
    assert any(d.startswith("n_regionkey=") for d in os.listdir(f"{base}/nation_part"))


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState session counting across micro-batches:
    two batches for the same user must carry state (a session spanning
    the batch boundary is not double-counted)."""
    import pandas as pd

    from sql_based_etl_spark.streaming.stateful import sessionize_stateful

    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: user 1 has events at t=0s and t=100s (one session)
    pd.DataFrame({"user_id": [1, 1], "ts_micros": [0, 100_000_000]}).to_parquet(
        src / "b1.parquet")
    events = (
        spark.readStream.schema("user_id bigint, ts_micros bigint")
        .parquet(str(src))
        .select("user_id", F.expr("timestamp_micros(ts_micros)").alias("ts"))
    )
    out = sessionize_stateful(events)
    name = "stateful_out_test"
    q = (out.writeStream.outputMode("update").format("memory").queryName(name).start())
    q.processAllAvailable()
    first = {r.user_id: (r.n_events, r.n_sessions)
             for r in spark.table(name).collect()}
    assert first[1] == (2, 1)
    # batch 2: +200s (same session: gap < 30 min) and +1h (new session)
    pd.DataFrame({"user_id": [1, 1],
                  "ts_micros": [200_000_000, 3_800_000_000]}).to_parquet(
        src / "b2.parquet")
    q.processAllAvailable()
    q.stop()
    rows = spark.table(name).collect()
    latest = max((r for r in rows if r.user_id == 1), key=lambda r: r.n_events)
    assert (latest.n_events, latest.n_sessions) == (4, 2)

def test_ngram_df_cutoff_drops_hot_shingle(spark):
    """A shingle shared by every doc (injected boilerplate) must leave
    the similarity universe under max_df, so otherwise-unrelated docs
    don't pair up — and genuinely-duplicate docs still do."""
    boiler = "copyright license header boilerplate"
    rows = [(i, f"{boiler} unique words number {i} alpha beta gamma {i}") for i in range(20)]
    rows += [(100, f"{boiler} the same dup text here exactly"),
             (101, f"{boiler} the same dup text here exactly")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=10).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # the boilerplate prefix alone (df=22 > 10) must not create pairs
    assert got == {(100, 101)}, got
    # with the guard off, boilerplate shingles drag unrelated docs in
    raw = ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=None)
    assert raw.count() > 1


def test_cosine_dup_lsh_recall_vs_exact(spark, embeddings):
    """The LSH-blocked near-dup variant must recover the exact
    variant's pairs at the configured threshold (non-vacuous: the
    fixture has at least one true pair at 0.5)."""
    from sql_based_etl_spark.operators.similarity import (
        cosine_dup_pairs,
        cosine_dup_pairs_lsh,
    )
    from sql_based_etl_spark.queries.similarity import DUP_THRESHOLD

    exact = {(r.id_a, r.id_b) for r in cosine_dup_pairs(embeddings, DUP_THRESHOLD).collect()}
    assert exact, "fixture should contain at least one near-dup embedding pair"
    lsh = {(r.id_a, r.id_b) for r in cosine_dup_pairs_lsh(embeddings, DUP_THRESHOLD).collect()}
    assert lsh <= exact  # precision exact by construction (verified cosine)
    recall = len(exact & lsh) / len(exact)
    assert recall == 1.0, f"LSH near-dup recall {recall}: missed {exact - lsh}"


def test_semantic_dedup_cell_blocking(spark, embeddings):
    """SemDeDup pairs are exact-cosine verified (precision 1 vs the
    all-pairs baseline) and with a single cell the blocking is total,
    so the result must EQUAL the exact baseline bit-for-bit."""
    from sql_based_etl_spark.operators.similarity import (
        cosine_dup_pairs,
        kmeans_lloyd,
        semantic_dedup_pairs,
    )
    from sql_based_etl_spark.queries.similarity import SEMANTIC_DUP_THRESHOLD as T

    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_dup_pairs(embeddings, T).collect()
    }
    assert exact, "fixture should contain pairs at the semantic threshold"
    one_cell = {
        (r.id_a, r.id_b, r.cosine)
        for r in semantic_dedup_pairs(embeddings, T, n_cells=1).collect()
    }
    assert one_cell == exact
    piv = kmeans_lloyd(embeddings, k=8, iters=1)
    blocked = {
        (r.id_a, r.id_b, r.cosine)
        for r in semantic_dedup_pairs(embeddings, T, pivots=piv).collect()
    }
    # cell blocking only ever drops cross-cell pairs, never invents one
    assert blocked <= exact


def test_trim_spans_rewrites_documents(spark):
    """Trimming removes exactly the duplicated span's words, keeps the
    rest in order, passes clean docs through normalized, and counts
    removed words."""
    from sql_based_etl_spark.operators.dedup import (
        duplicated_substring_spans,
        trim_duplicated_spans,
    )

    shared = "one two three four five six seven eight"  # exactly 8 words
    docs = spark.createDataFrame(
        [
            (1, f"head {shared} tail words"),
            (2, f"{shared} trailing unique content here"),
            (3, "Spotless   DOC with  odd Spacing"),
        ],
        ["doc_id", "text"],
    )
    spans = duplicated_substring_spans(docs, n=8)
    out = {r.doc_id: r for r in trim_duplicated_spans(docs, spans).collect()}
    assert out[1].clean_text == "head tail words"
    assert out[1].n_removed_words == 8
    assert out[2].clean_text == "trailing unique content here"
    assert out[2].n_removed_words == 8
    # untouched doc: normalized (lowercase, single spaces), zero removed
    assert out[3].clean_text == "spotless doc with odd spacing"
    assert out[3].n_removed_words == 0


def test_minhash_incremental_equals_restricted_full(spark):
    """Incremental minhash (new batch vs stored index) must produce
    exactly the full-corpus pairs that touch the new batch — no old×old
    pair, nothing missed, identical jaccards."""
    from tests.conftest import SF_ORACLE

    from pyspark.sql import functions as F

    from sql_based_etl_spark.operators.dedup import (
        hashed_shingle_rows,
        minhash_bands_from_hashes,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    expected = {
        (a, b, j) for a, b, j in full if a % 2 == 1 or b % 2 == 1
    }
    old_hashed = hashed_shingle_rows(docs.filter(F.col("doc_id") % 2 == 0))
    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_incremental(
            docs.filter(F.col("doc_id") % 2 == 1),
            old_hashed,
            minhash_bands_from_hashes(old_hashed),
            threshold=0.5,
        ).collect()
    }
    assert inc == expected
    assert expected < full  # some old×old pairs exist and are skipped


def test_hard_negative_mining(spark, embeddings):
    """Every mined negative carries a label different from its query's,
    ranks are dense per query, and the top negative is at least as
    similar as any other returned one (re-rank is exact cosine)."""
    from pyspark.sql import functions as F

    from sql_based_etl_spark.operators.similarity import hard_negative_topk

    out = hard_negative_topk(embeddings, F.col("vec_id") % 50 == 0, k=3).collect()
    assert out, "fixture should yield hard negatives"
    labels = {r.vec_id: r.label for r in embeddings.collect()}
    by_q: dict[int, list] = {}
    for r in out:
        assert r.neighbor_label == labels[r.neighbor_id]
        assert r.neighbor_label != labels[r.query_id], r
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_mixture_sample_epoch_weighting(spark):
    """Weight w keeps floor(w) copies of every row plus a deterministic
    frac(w) share with one more; weight 0 (and unlisted groups at the
    default) vanish; re-runs produce the identical multiset."""
    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.operators.sampling import mixture_sample

    rows = [(i, "a" if i < 100 else "b" if i < 200 else "c") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    w = {"a": 2.0, "b": 0.5, "c": 0.0}
    out = mixture_sample(df, w, group_col="grp").collect()
    by_grp: dict[str, list] = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r)
    # exactly 2 copies of every 'a' row, numbered 1..2
    assert len(by_grp["a"]) == 200
    assert {(r.doc_id, r.copy) for r in by_grp["a"]} == {
        (i, c) for i in range(100) for c in (1, 2)
    }
    # 'b' keeps a deterministic ~half, one copy each; 'c' vanishes
    assert 25 <= len(by_grp.get("b", [])) <= 75
    assert all(r.copy == 1 for r in by_grp["b"])
    assert "c" not in by_grp
    rerun = mixture_sample(df, w, group_col="grp").collect()
    assert {(r.doc_id, r.copy) for r in rerun} == {(r.doc_id, r.copy) for r in out}
    # stage surface
    df.createOrReplaceTempView("mix_in")
    ctx = Pipeline(spark).run([
        {"type": "SamplingTransform", "inputView": "mix_in", "outputView": "mixed",
         "method": "mixture", "groupColumn": "grp", "weights": {"a": 2.0, "b": 0.5}},
    ])
    assert ctx.views["mixed"].count() == len(out)


def test_substring_spans_semantics(spark):
    """A ≥n-word phrase shared by two docs yields one merged span per
    doc covering exactly the phrase; sub-n repeats (even within a doc)
    and unique text yield nothing; a duplicated short doc (< n words)
    is one whole-doc span capped at its last word."""
    from sql_based_etl_spark.operators.dedup import duplicated_substring_spans

    shared = "one two three four five six seven eight nine ten"  # 10 words
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} and a unique tail for doc one"),
            (2, f"{shared} different continuation entirely for the second doc body"),
            (3, "totally unrelated text with no duplicated content at all here"),
            (4, "repeat me now please okay fine repeat me now please okay fine"),
            (5, "tiny dup doc"),
            (6, "tiny dup doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in duplicated_substring_spans(docs, n=8).collect()
    }
    # docs 1/2: the 10-word phrase = three overlapping 8-grams merged;
    # doc 4's 6-word repeat never forms a duplicated 8-gram; docs 5/6
    # are whole-text grams capped at word 2
    assert got == {
        (1, 3, 12, 3),
        (2, 0, 9, 3),
        (5, 0, 2, 1),
        (6, 0, 2, 1),
    }, got


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom pre-filter must flag a SUPERSET of the docs the exact
    inverted-index decontaminate flags (zero false negatives — the
    Bloom contract), and a doc sharing a full 8-gram with the
    benchmark must be flagged with at least that many grams."""
    from sql_based_etl_spark.operators.textops import (
        bloom_build,
        bloom_decontaminate,
        decontaminate,
    )

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    bench = spark.createDataFrame(
        [(100, f"benchmark question {leak} answer text here")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training doc contains {leak} verbatim inside"),
            (2, "totally unrelated words nothing shared at all here okay"),
            (3, "another clean document with its own content entirely"),
        ],
        ["doc_id", "text"],
    )
    exact = {r.doc_id for r in decontaminate(corpus, bench, n=8, max_df=None).collect()}
    assert exact == {1}
    bloom = bloom_build(bench, n=8)
    flagged = {r.doc_id: r.flagged_ngrams for r in
               bloom_decontaminate(corpus, bloom, n=8).collect()}
    assert exact <= set(flagged)  # no false negatives, ever
    assert flagged[1] >= 1


def test_pii_scrub_semantics(spark):
    """Redaction order: URLs first (a URL's digits/@ must not double-
    count), then emails, then 7+ digit runs; short digit runs stay."""
    from sql_based_etl_spark.operators.textops import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail john.doe+x@ex-ample.co.uk now"),
            (2, "see https://a.b/c?d=123456789&u=a@b.cc end"),
            (3, "phone 5551234567 id 123456"),
            (4, "clean text"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (out[1].n_emails, out[1].n_urls, out[1].n_digit_runs) == (1, 0, 0)
    assert out[1].clean_text == "mail <EMAIL> now"
    # the URL swallows both the digit run and the @-token inside it
    assert (out[2].n_urls, out[2].n_emails, out[2].n_digit_runs) == (1, 0, 0)
    assert out[2].clean_text == "see <URL> end"
    assert (out[3].n_digit_runs, out[3].clean_text) == (1, "phone <NUM> id 123456")
    assert out[4].clean_text == "clean text"


def test_quality_filter_gates(spark):
    """Each gate of the composite filter actually rejects: short docs,
    unidentifiable language, and fingerprint-duplicate variants."""
    from sql_based_etl_spark.operators.textops import quality_filter

    good = ("the and of to in is a that it for " * 5).strip()  # en, 50 words
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "qqq zzz xxx"),  # no stopwords -> 'und', too short
            (3, good + " "),  # whitespace variant of 1 -> same fingerprint
            (4, ("zz " * 40).strip()),  # long enough but 'und'
        ],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in quality_filter(docs, min_words=30, min_score=0.3).collect()}
    assert kept == {1}


def test_stream_append_to_versioned_table(spark, tmp_path):
    """Streaming micro-batches commit as APPEND versions of the
    versioned table (file-additive, time-travelable)."""
    from sql_based_etl_spark.streaming.events import (
        read_events_stream,
        stream_append_to_table,
    )
    from sql_based_etl_spark.tables.versioned import VersionedTable
    from sql_based_etl_spark.queries._util import load

    table_path = str(tmp_path / "events_stream_tbl")
    stream = read_events_stream(spark, SF_ORACLE + "/events.parquet")
    q = stream_append_to_table(stream, table_path, num_partitions=2)
    q.processAllAvailable()
    q.stop()
    t = VersionedTable(spark, table_path)
    batch_n = load(spark, SF_ORACLE, "events").count()
    assert t.read().count() == batch_n
    assert t.exists() and t.manifest(t.latest_version())["operation"].startswith(
        ("STREAM_BATCH", "WRITE", "APPEND")
    )


def test_incremental_dedup_stage_closes_the_loop(spark, tmp_path):
    """The daily-pipeline shape end-to-end: batch 1 dedupes against an
    empty index and its kept digests are appended; batch 2 then drops
    both its internal duplicates and everything batch 1 already
    ingested."""
    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.operators.dedup import digest_index
    from sql_based_etl_spark.tables.versioned import VersionedTable

    idx_path = str(tmp_path / "digest_idx")
    idx = VersionedTable(spark, idx_path)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    b1.createOrReplaceTempView("batch1")
    ctx = Pipeline(spark).run([
        {"type": "DedupTransform", "inputView": "batch1", "outputView": "kept1",
         "method": "exact"},
    ])
    kept1 = {r.doc_id for r in ctx.spark.table("kept1").collect()}
    assert kept1 == {1, 2}
    idx.write(digest_index(b1.filter(F.col("doc_id").isin(*kept1))))

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    b2.createOrReplaceTempView("batch2")
    ctx = Pipeline(spark).run([
        {"type": "DedupTransform", "inputView": "batch2", "outputView": "kept2",
         "method": "exact_incremental", "seenURI": idx_path},
    ])
    got = {(r.doc_id, r.n_copies) for r in ctx.spark.table("kept2").collect()}
    # 'alpha' seen historically -> dropped; 'gamma' deduped within batch
    assert got == {(11, 2), (13, 1)}


def test_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Kill a checkpointed stream after batch 0, then restart from the
    same checkpointLocation with new input AND a simulated
    crash-before-checkpoint replay (batch 1 committed to the table but
    not acknowledged in the checkpoint): the restarted query resumes at
    the next batch — batch 0 is not reprocessed — and the manifest
    batch-id dedup absorbs the replayed commit. No duplicate versions,
    no duplicate rows, end-to-end through a real checkpointLocation."""
    import glob
    import shutil

    from sql_based_etl_spark.streaming.events import (
        append_stream_batch,
        stream_append_to_table,
    )
    from sql_based_etl_spark.tables.versioned import VersionedTable

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string"

    def put(name, rows):
        stage = str(tmp_path / ("w_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.move(glob.glob(stage + "/part-*.parquet")[0], str(src / name))

    put("a.parquet", [(1, "a"), (2, "a")])
    q = stream_append_to_table(
        spark.readStream.schema(schema).parquet(str(src)), table_path,
        checkpoint=ckpt,
    )
    q.processAllAvailable()
    q.stop()  # query goes down after batch 0
    t = VersionedTable(spark, table_path)
    assert t.read().count() == 2

    # new data arrives while the query is down; simulate "table commit
    # succeeded but the checkpoint never advanced" for its batch id
    put("b.parquet", [(3, "b")])
    assert append_stream_batch(
        spark.createDataFrame([(3, "b")], schema), 1, table_path
    )
    n_versions = len(t.versions())

    q2 = stream_append_to_table(
        spark.readStream.schema(schema).parquet(str(src)), table_path,
        checkpoint=ckpt,
    )
    q2.processAllAvailable()
    q2.stop()

    assert len(t.versions()) == n_versions  # replay deduped, batch 0 skipped
    assert sorted((r.id, r.v) for r in t.read().collect()) == [
        (1, "a"), (2, "a"), (3, "b"),
    ]


def test_read_events_stream_refuses_to_guess_encoding(spark, tmp_path):
    """No parquet file to sniff -> raise, never guess (a NANOS file
    arriving after a guessed-MICROS schema would be misread)."""
    from sql_based_etl_spark.streaming.events import read_events_stream

    with pytest.raises(FileNotFoundError, match="sniff"):
        read_events_stream(spark, str(tmp_path))


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E must yield clusters {A,B,C} and {D,E} — the
    transitive closure pair generation alone cannot see."""
    from sql_based_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_long_path_converges(spark):
    """A 64-node path graph needs real iteration (diameter 63); pointer
    jumping must converge well inside max_iter and label every node
    with the path minimum."""
    from sql_based_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["src", "dst"]
    )
    rows = connected_components(edges, max_iter=10).collect()
    assert len(rows) == 64
    assert {r.component for r in rows} == {0}


def test_dedup_cluster_survivors_match_pairs(spark, documents):
    """Every clustered doc appears in some LSH pair, and each pair's
    endpoints share a cluster."""
    from sql_based_etl_spark.operators.dedup import minhash_lsh_pairs
    from sql_based_etl_spark.operators.graph import dedup_cluster_assignments

    pairs = minhash_lsh_pairs(documents, threshold=0.5).persist()
    assign = {r.doc_id: r.cluster_id for r in dedup_cluster_assignments(pairs).collect()}
    for p in pairs.collect():
        assert assign[p.doc_a] == assign[p.doc_b]
    paired = {p.doc_a for p in pairs.collect()} | {p.doc_b for p in pairs.collect()}
    assert set(assign) == paired


def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result: same rows, same
    multiplicities, for inner and left joins, on a skewed key."""
    from sql_based_etl_spark.operators.joins import salted_join, salted_join_hot_keys

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 30)],
        ["k", "v"],
    )
    small = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 25)], ["k", "d"]
    )
    plain = big.join(small, "k", "inner")
    for how in ("inner", "left"):
        expect = sorted(map(tuple, big.join(small, "k", how).collect()))
        got = sorted(map(tuple, salted_join(big, small, "k", how, salt=8).collect()))
        assert got == expect, how
        hot = spark.createDataFrame([(1,)], ["k"])
        got_hot = sorted(
            map(tuple, salted_join_hot_keys(big, small, "k", hot, how, salt=8).collect())
        )
        assert got_hot == expect, how
    assert plain.count() == 500 + 23


def test_decontaminate_flags_injected_overlap(spark):
    """A training doc embedding a benchmark doc's 8-gram must be
    flagged; unrelated docs must not."""
    from sql_based_etl_spark.operators.textops import decontaminate

    secret = "alpha bravo charlie delta echo foxtrot golf hotel"
    corpus = spark.createDataFrame(
        [
            (1, f"intro text {secret} closing remarks here"),
            (2, "completely unrelated content with no overlap at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, f"question: {secret} answer: yes")], ["doc_id", "text"]
    )
    rows = decontaminate(corpus, bench, n=8, min_shared=1).collect()
    assert {(r.doc_id, r.bench_id) for r in rows} == {(1, 100)}
    assert all(r.shared_ngrams >= 1 for r in rows)


def test_connected_components_string_ids(spark):
    """Non-numeric node ids must converge exactly (the convergence
    probe is type-agnostic; a sum-based check would NULL out and stop
    after one round, splitting the 6-node chain)."""
    from sql_based_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "y")],
        ["src", "dst"],
    )
    rows = connected_components(edges).collect()
    comp = {r.node: r.component for r in rows}
    assert {comp[n] for n in "abcdef"} == {"a"}
    assert comp["x"] == comp["y"] == "x"


def test_jdbc_stages_roundtrip_derby(spark):
    """JDBCLoad write → JDBCExecute DDL/DML → JDBCExtract (parallel,
    range-partitioned) read back, against the in-process Derby engine
    whose driver jar ships on Spark's classpath — a real DriverManager
    connection and real executor-side JDBC I/O, no external endpoint.

    Columns are aliased to uppercase before the write: Derby uppercases
    unquoted identifiers, and JDBCExtract's partitionColumn is embedded
    unquoted in the generated range predicates."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    url = "jdbc:derby:memory:jdbcsmoke;create=true"
    stages = [
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/nation.parquet",
         "outputView": "jdbc_nation"},
        {"type": "SQLTransform", "outputView": "jdbc_nation_slim",
         "sql": "SELECT n_nationkey AS NK, n_regionkey AS RK FROM jdbc_nation"},
        {"type": "JDBCLoad", "inputView": "jdbc_nation_slim", "jdbcURL": url,
         "tableName": "NATION_T", "saveMode": "Overwrite", "numPartitions": 1},
        {"type": "JDBCExecute", "jdbcURL": url,
         "sql": "CREATE TABLE MARKER (ID INT); INSERT INTO MARKER VALUES (7)"},
        {"type": "JDBCExtract", "jdbcURL": url, "tableName": "NATION_T",
         "outputView": "jdbc_nation_back", "partitionColumn": "NK",
         "lowerBound": 0, "upperBound": 25, "numPartitions": 4},
        {"type": "JDBCExtract", "jdbcURL": url, "tableName": "MARKER",
         "outputView": "jdbc_marker"},
    ]
    ctx = Pipeline(spark).run(stages)
    back = ctx.views["jdbc_nation_back"]
    assert back.count() == ctx.views["jdbc_nation"].count()
    assert back.rdd.getNumPartitions() == 4
    assert [r.ID for r in ctx.views["jdbc_marker"].collect()] == [7]


def test_sampling_determinism_and_exactness(spark):
    """hash_split must be stable across runs/partitioning (the property
    randomSplit lacks); stratified_sample must hit exact per-stratum
    ceilings."""
    from sql_based_etl_spark.operators.sampling import hash_split, stratified_sample

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id", "lang")
    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs.repartition(13)).collect()}
    assert a == b  # partitioning-independent assignment
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    assert 0.95 < frac_train < 1.0 and set(a.values()) <= {"train", "val", "test"}

    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in stratified_sample(docs, "lang", 0.1)
           .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {k: math.ceil(0.1 * v) for k, v in sizes.items()}


def test_kmeans_lloyd_improves_ivf_objective(spark):
    """Each Lloyd iteration must not decrease the mean max-cosine of
    vectors to their assigned centroid (the k-means objective under the
    cosine assignment rule) vs the untrained lowest-id pivots."""
    from sql_based_etl_spark.operators.similarity import (
        _dot_expr,
        _norm_expr,
        kmeans_lloyd,
    )
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )

    def objective(cents):
        cos = _dot_expr("v", "pv", 64) / (_norm_expr("v", 64) * _norm_expr("pv", 64))
        w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("pid"))
        best = (
            base.join(F.broadcast(cents))
            .select("id", cos.alias("sim"), "pid")
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
        )
        return best.agg(F.avg("sim")).collect()[0][0]

    untrained = base.orderBy("id").limit(16).select(
        F.col("id").alias("pid"), F.col("v").alias("pv")
    )
    trained = kmeans_lloyd(emb, k=16, iters=2)
    assert objective(trained) >= objective(untrained) - 1e-9


def test_int8_quantization_preserves_topk(spark):
    """Dequantized (q * scale) top-5 neighbors must overlap ≥ 80% with
    the float top-5 on average — the recall contract that makes 4×
    storage compression usable for ANN."""
    from sql_based_etl_spark.operators.similarity import cosine_topk, quantize_int8

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    deq = quantize_int8(emb).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(qv, q -> q * scale)").alias("embedding"),
    )
    qpred = F.col("vec_id") % 50 == 0
    exact = cosine_topk(emb.filter(qpred), emb, k=5)
    approx = cosine_topk(deq.filter(qpred), deq, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.8


def test_kmv_sketch_accuracy_and_merge(spark):
    """KMV estimate within the ~1/sqrt(k) error band of the exact
    cardinality, and the merge of two disjoint shard sketches must
    equal the sketch of the union (mergeability is the scale story)."""
    from sql_based_etl_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select("event_id")
    exact = ev.distinct().count()
    est = kmv_estimate(kmv_sketch(ev, "event_id")).collect()[0].distinct_est
    assert abs(est - exact) / exact < 0.2

    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = kmv_merge(kmv_sketch(a, "event_id"), kmv_sketch(b, "event_id"))
    direct = kmv_sketch(ev, "event_id")
    assert [r.h for r in merged.collect()] == [r.h for r in direct.collect()]


def test_validate_stages(spark):
    """SQLValidate passes/raises on its (valid, message) row;
    ExpectationsValidate reports ALL failed expectations from one scan."""
    from sql_based_etl_spark.engine.pipeline import Pipeline, StageError

    base = [
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/nation.parquet",
         "outputView": "val_nation"},
    ]
    ok = base + [
        {"type": "SQLValidate", "name": "unique keys", "sql": """
            SELECT count(*) = count(DISTINCT n_nationkey) AS valid,
                   'dup nation keys' AS message FROM val_nation"""},
        {"type": "ExpectationsValidate", "inputView": "val_nation",
         "expectations": [
             {"column": "n_nationkey", "notNull": True},
             {"column": "n_nationkey", "unique": True},
             {"column": "n_regionkey", "min": 0, "max": 4},
         ]},
    ]
    Pipeline(spark).run(ok)  # must not raise

    bad_sql = base + [
        {"type": "SQLValidate", "name": "impossible", "sql": """
            SELECT count(*) = 0 AS valid,
                   concat('rows: ', count(*)) AS message FROM val_nation"""},
    ]
    with pytest.raises(StageError, match="rows: 25"):
        Pipeline(spark).run(bad_sql)

    bad_exp = base + [
        {"type": "ExpectationsValidate", "inputView": "val_nation",
         "expectations": [
             {"column": "n_regionkey", "max": 1},
             {"column": "n_name", "acceptedValues": ["NATION_0"]},
         ]},
    ]
    with pytest.raises(StageError) as ei:
        Pipeline(spark).run(bad_exp)
    assert "range" in str(ei.value) and "acceptedValues" in str(ei.value)


def test_validate_null_semantics_and_empty_list(spark):
    """Fail-closed edges: duplicate NULL keys violate 'unique', an expr
    evaluating to NULL violates that expectation, and an empty
    expectations list is a config error, not a vacuous pass."""
    from sql_based_etl_spark.engine.pipeline import Pipeline, StageError

    spark.createDataFrame(
        [(1, 10), (None, 20), (None, None)], "k int, x int"
    ).createOrReplaceTempView("val_nulls")

    with pytest.raises(StageError, match="unique"):
        Pipeline(spark).run([
            {"type": "ExpectationsValidate", "inputView": "val_nulls",
             "expectations": [{"column": "k", "unique": True}]},
        ])
    # x > 15 is NULL for the (None, None) row -> that row violates
    with pytest.raises(StageError, match="2 violating"):
        Pipeline(spark).run([
            {"type": "ExpectationsValidate", "inputView": "val_nulls",
             "expectations": [{"expr": "x > 15"}]},
        ])
    with pytest.raises(StageError, match="empty"):
        Pipeline(spark).run([
            {"type": "ExpectationsValidate", "inputView": "val_nulls",
             "expectations": []},
        ])


def test_boolean_coercion_skips_quoted_regions():
    """The BooleanEquality retry must not rewrite 'true'/'false' inside
    string literals, quoted identifiers, or comments — those are data."""
    from sql_based_etl_spark.engine.sql_compat import coerce_boolean_equality

    sql = (
        "SELECT * FROM t WHERE note = 'flag = true' AND flag = true "
        'AND "weird = true" = 1 '
        "-- comment: x = true\n"
        "AND /* y = false */ y = false"
    )
    got = coerce_boolean_equality(sql)
    assert "note = 'flag = true'" in got          # literal untouched
    assert '"weird = true"' in got                # quoted ident untouched
    assert "-- comment: x = true" in got          # comment untouched
    assert "/* y = false */" in got
    assert "AND flag = 1 " in got                 # real comparison rewritten
    assert got.rstrip().endswith("y = 0")


def test_resize_stub_exactness(spark, documents):
    """The stub resampler must equal a direct nearest-neighbor
    resample of the same bytes (schema/batching don't distort)."""
    import hashlib

    from sql_based_etl_spark.operators.multimodal import attach_binary, resize_stub

    sample = documents.orderBy("doc_id").limit(5)
    got = {r.doc_id: r for r in resize_stub(attach_binary(sample)).collect()}
    for row in sample.collect():
        b = row.text.encode()
        n = len(b)
        out = bytes(b[(j * n) // 128] for j in range(128)) if n else b""
        r = got[row.doc_id]
        assert (r.src_bytes, r.dst_bytes) == (n, len(out))
        assert r.resized_md5 == hashlib.md5(out).hexdigest()


def test_stream_sink_is_idempotent_on_batch_replay(spark, tmp_path):
    """A replayed micro-batch id must not double-append: foreachBatch
    is at-least-once, and the manifest's stream_batch_id makes the
    versioned-table sink exactly-once."""
    from sql_based_etl_spark.streaming.events import append_stream_batch
    from sql_based_etl_spark.tables.versioned import VersionedTable

    path = str(tmp_path / "sink_tbl")
    batch = spark.range(10).select(F.col("id"))
    assert append_stream_batch(batch, 0, path) is True
    assert append_stream_batch(batch, 1, path) is True
    assert append_stream_batch(batch, 1, path) is False  # replay: skipped
    t = VersionedTable(spark, path)
    assert t.read().count() == 20  # not 30
    assert [m.get("stream_batch_id") for m in t.history()] == [1, 0]


def test_native_wordcount_job(spark, tmp_path):
    """The reconstructed native wordcount job (S6) runs as a script
    and writes per-word counts to argv[1]."""
    import subprocess
    import sys as _sys

    inp = tmp_path / "in.txt"
    inp.write_text("a b a\nc a b\n")
    out = tmp_path / "out"
    script = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "examples", "app_code", "job", "wordcount.py")
    r = subprocess.run([_sys.executable, script, str(out), str(inp)],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-500:]
    got = {row.word: row["count"] for row in spark.read.parquet(str(out)).collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_cap_per_group_determinism_and_bound(spark):
    """cap_per_group keeps min(cap, group size) rows per group and the
    SAME rows regardless of partitioning (retry/re-run stability)."""
    from sql_based_etl_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "source"
    )
    sizes = {r.source: r.n
             for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    capped = cap_per_group(docs, "source", cap=7)
    got = {r.source: r.n
           for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {s: min(7, n) for s, n in sizes.items()}

    a = {r.doc_id for r in capped.collect()}
    b = {r.doc_id for r in cap_per_group(docs.repartition(13), "source", 7).collect()}
    assert a == b  # partitioning-independent survivor choice

    assert cap_per_group(docs, "source", cap=0).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cap_per_group(docs, "source", cap=-1)

    # the skew-bounded two-phase path is a lossless prune: identical output
    c = {r.doc_id for r in
         cap_per_group(docs, "source", 7, pre_prune_salts=8).collect()}
    assert c == a


def test_canonical_survivors_pick_best_quality(spark):
    """One survivor per duplicate cluster — the max-quality member —
    plus every singleton unchanged."""
    from sql_based_etl_spark.operators.graph import canonical_survivors

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 7), (9, 1)],
        "doc_id long, quality long",
    )
    # clusters: {1,2,3} (transitive via 2), {4,5}; 9 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    out = canonical_survivors(docs, pairs, quality_col="quality")
    got = {r.doc_id: r.quality for r in out.collect()}
    # 2 wins {1,2,3} on quality; 4 wins {4,5} on the min-id tiebreak
    assert got == {2: 99, 4: 7, 9: 1}


def test_stream_near_dedup_batch_replay_and_flags(spark, tmp_path):
    """Streaming near-dedup contract: within-batch dups keep the
    smaller id, later batches flag against the stored index, and a
    replayed micro-batch (foreachBatch at-least-once) commits nothing
    twice on any of the three index tables."""
    from sql_based_etl_spark.streaming.neardedup import near_dedup_batch
    from sql_based_etl_spark.tables.versioned import VersionedTable

    idx = str(tmp_path / "nd_idx")
    text = "the quick brown fox jumps over the lazy dog again"
    b0 = spark.createDataFrame(
        [(1, text), (2, text), (5, "completely different words entirely here")],
        "doc_id long, text string",
    )
    near_dedup_batch(b0, 0, idx)
    flags = VersionedTable(spark, f"{idx}/flags")
    got0 = {r.doc_id: r.is_dup for r in flags.read().collect()}
    assert got0 == {1: False, 2: True, 5: False}

    b1 = spark.createDataFrame(
        [(10, text), (11, "yet another unrelated document body")],
        "doc_id long, text string",
    )
    near_dedup_batch(b1, 1, idx)
    got1 = {r.doc_id: r.is_dup for r in flags.read().collect()}
    assert got1 == {1: False, 2: True, 5: False, 10: True, 11: False}

    # replay batch 1 (crash between manifest commit and checkpoint
    # advance): every table must skip — no duplicate rows, no new versions
    versions_before = {
        t: VersionedTable(spark, f"{idx}/{t}").versions()
        for t in ("flags", "hashed", "bands")
    }
    near_dedup_batch(b1, 1, idx)
    for t, v in versions_before.items():
        assert VersionedTable(spark, f"{idx}/{t}").versions() == v
    assert flags.read().count() == 5


def test_cms_sketch_bounds_and_merge(spark):
    """CMS never under-counts, over-counts within the ±2N/width bound
    at these parameters, and per-shard sketches merge counter-wise to
    exactly the whole-corpus sketch."""
    from sql_based_etl_spark.operators.dedup import words_col
    from sql_based_etl_spark.operators.sketches import (
        cms_estimate,
        cms_merge,
        cms_sketch,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    words = docs.select(F.explode(words_col("text")).alias("w")).persist()
    truth = {r.w: r.n for r in
             words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("w").asc()).limit(30).collect()}
    n_total = words.count()
    sk = cms_sketch(words, "w").persist()
    keys = spark.createDataFrame([(w,) for w in truth], "w string")
    est = {r.key: r.freq_est for r in cms_estimate(sk, keys, "w").collect()}
    from sql_based_etl_spark.operators.sketches import CMS_WIDTH
    for w, n in truth.items():
        assert est[w] >= n  # CMS never under-counts
        assert est[w] <= n + 2 * n_total / CMS_WIDTH * 4  # loose e-bound

    half_a = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(words_col("text")).alias("w"))
    half_b = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(words_col("text")).alias("w"))
    merged = cms_merge(cms_sketch(half_a, "w"), cms_sketch(half_b, "w"))
    full = {(r.d, r.bucket): r.cnt for r in sk.collect()}
    got = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    assert got == full  # merge is exact counter addition
    words.unpersist(); sk.unpersist()


def test_profile_drift_between_versions(spark, tmp_path):
    """Drift report between two versions of a versioned table: null-rate
    delta exact in micros, range_moved only for columns whose min/max
    actually changed, row growth reported; reachable through the
    TableProfile stage with compareView (version -1 vs latest)."""
    from sql_based_etl_spark.engine.pipeline import Pipeline
    from sql_based_etl_spark.tables.versioned import VersionedTable

    p = str(tmp_path / "drift_t")
    t = VersionedTable(spark, p)
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "id long, s string, x double",
    )
    t.write(v0)
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, None, 30.0), (4, None, 99.0),
         (5, "d", 12.0)],
        "id long, s string, x double",
    )
    t.write(v1, mode="overwrite")

    ctx = Pipeline(spark).run([
        {"type": "DeltaLakeExtract", "inputURI": p, "outputView": "cur"},
        {"type": "DeltaLakeExtract", "inputURI": p,
         "options": {"relativeVersion": -1}, "outputView": "prev"},
        {"type": "TableProfile", "inputView": "cur", "compareView": "prev",
         "outputView": "drift"},
    ])
    d = {r.column: r for r in ctx.spark.table("drift").collect()}
    assert d["id"].n_rows_old == 4 and d["id"].n_rows_new == 5
    assert d["s"].null_rate_old == 0.25 and d["s"].null_rate_new == 0.6
    assert abs(d["s"].null_rate_delta - 0.35) < 1e-9
    assert d["id"].range_moved  # max id 4 -> 5
    assert d["x"].range_moved  # max 40 -> 99
    assert not d["s"].range_moved  # min 'a', max 'd' in both versions


def test_windowed_cms_merges_across_windows(spark):
    """Closed streaming windows are mergeable sketch artifacts: folding
    two adjacent hourly window sketches with cms_merge equals the CMS
    of the union of their events — rolling dashboards never rescan."""
    from sql_based_etl_spark.operators.sketches import cms_merge, cms_sketch
    from sql_based_etl_spark.queries._util import load

    events = load(spark, SF_ORACLE, "events").persist()
    hours = sorted(
        r[0] for r in events.select(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("h")
        ).distinct().collect()
    )[:2]
    assert len(hours) == 2
    in_hour = [
        events.filter(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600) == h
        ).select("user_id")
        for h in hours
    ]
    merged = cms_merge(cms_sketch(in_hour[0], "user_id"),
                       cms_sketch(in_hour[1], "user_id"))
    both = cms_sketch(in_hour[0].unionByName(in_hour[1]), "user_id")
    assert ({(r.d, r.bucket, r.cnt) for r in merged.collect()}
            == {(r.d, r.bucket, r.cnt) for r in both.collect()})
    events.unpersist()


def test_kmv_overlap_exact_on_small_sets(spark):
    """Below k distinct values the sketches ARE the sets, so the
    overlap estimator must return the exact Jaccard/union/intersection
    (operators/sketches.py:kmv_overlap)."""
    from sql_based_etl_spark.operators.sketches import kmv_overlap, kmv_sketch

    a = spark.range(0, 100).select(F.col("id").alias("v"))
    b = spark.range(50, 150).select(F.col("id").alias("v"))
    row = kmv_overlap(kmv_sketch(a, "v"), kmv_sketch(b, "v")).collect()[0]
    assert row.n_kept == 150 and row.matches == 50
    assert row.union_est == 150.0
    assert row.jaccard_est == round(50 / 150, 6)
    assert row.intersect_est == 50.0


def test_kmv_sketch_grouped_matches_per_group(spark):
    """The per-group sketch rows for one group equal the ungrouped
    sketch of that group's slice (operators/sketches.py)."""
    from sql_based_etl_spark.operators.dedup import words_col
    from sql_based_etl_spark.operators.sketches import kmv_sketch, kmv_sketch_grouped
    from sql_based_etl_spark.queries._util import load

    docs = load(spark, SF_ORACLE, "documents")
    words = docs.select("lang", F.explode(words_col("text")).alias("w"))
    grouped = {
        (r.g, r.h) for r in kmv_sketch_grouped(words, "lang", "w", k=32).collect()
    }
    for lang in ("en", "zh"):
        solo = kmv_sketch(words.filter(F.col("lang") == lang), "w", k=32)
        assert {(lang, r.h) for r in solo.collect()} == {
            gh for gh in grouped if gh[0] == lang
        }


def test_histogram_merge_and_quantile_error(spark):
    """Per-shard histograms merge into the whole-data histogram
    counter-for-counter, and the interpolated quantile lands within one
    bin width of the exact percentile (operators/sketches.py)."""
    from sql_based_etl_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )
    from sql_based_etl_spark.queries._util import load

    events = load(spark, SF_ORACLE, "events").persist()
    lo, hi, nbins = 0.0, 500.0, 1000
    whole = histogram_sketch(events, "value", lo, hi, nbins)
    halves = [events.filter(F.col("event_id") % 2 == p) for p in (0, 1)]
    merged = histogram_merge(
        histogram_sketch(halves[0], "value", lo, hi, nbins),
        histogram_sketch(halves[1], "value", lo, hi, nbins),
    )
    assert {(r.bin, r.cnt) for r in merged.collect()} == {
        (r.bin, r.cnt) for r in whole.collect()
    }
    est = {
        r.q: r.value_est
        for r in histogram_quantiles(whole, [0.5, 0.9], lo, hi, nbins).collect()
    }
    vals = sorted(r[0] for r in events.select("value").collect())
    width = (hi - lo) / nbins
    for q in (0.5, 0.9):
        exact = vals[min(len(vals) - 1, int(q * len(vals)))]
        assert abs(est[q] - exact) <= width, (q, est[q], exact)
    events.unpersist()


def test_key_skew_stats_shares_and_factor(spark):
    """Shares/skew factors are exact integer-micros ratios and the
    report rows really are the heaviest keys
    (operators/profiling.py:key_skew_stats)."""
    from sql_based_etl_spark.operators.profiling import key_skew_stats
    from sql_based_etl_spark.queries._util import load

    events = load(spark, SF_ORACLE, "events")
    rows = key_skew_stats(events, "user_id", top_n=5).collect()
    counts = {
        r.user_id: r.cnt
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total, nkeys = sum(counts.values()), len(counts)
    heaviest = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.key, r.cnt) for r in rows] == [(str(k), c) for k, c in heaviest]
    for r in rows:
        assert r.share == (r.cnt * 1_000_000 // total) / 1e6
        assert r.skew_factor == (r.cnt * 1_000_000 * nkeys // total) / 1e6


def test_key_skew_stats_null_key_tiebreak_is_nulls_last(spark):
    """A NULL key tying on cnt at the top_n boundary sorts NULLS LAST —
    pinned explicitly on both engines, since Spark's bare asc() is
    NULLS FIRST while DuckDB's `k ASC` defaults NULLS LAST
    (operators/profiling.py:key_skew_stats)."""
    from sql_based_etl_spark.operators.profiling import key_skew_stats

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), ("b",)], "k string"
    )
    rows = key_skew_stats(df, "k", top_n=2).collect()
    # 'a' and NULL tie at cnt=2; NULLS LAST ⇒ 'a' first, NULL second
    assert [r.key for r in rows] == ["a", None]
    assert key_skew_stats(df, "k", top_n=1).collect()[0].key == "a"


def test_ngram_lm_perplexity_orders_fluency(spark):
    """The CCNet-style bigram LM scores in-distribution text lower-NLL
    than unseen-vocabulary text, skips sub-bigram docs, and computes
    the smoothed model exactly (operators/textops.py:
    ngram_lm_perplexity)."""
    import math

    from sql_based_etl_spark.operators.textops import ngram_lm_perplexity

    ref = spark.createDataFrame(
        [(100, "the cat sat"), (101, "the cat ran")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "zig zag"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_lm_perplexity(docs, ref).collect()}
    assert 3 not in rows  # one word → no bigrams → no evidence → no row
    assert rows[1].n_bigrams == 1 and rows[2].n_bigrams == 1
    # exact hand-computed model: ref bigrams = {the cat:2, cat sat:1,
    # cat ran:1}; prefix counts the:2 cat:2; V = |{cat, sat, ran}| = 3
    exp_in = -round(math.log((2 + 1) / (2 + 3)) * 1e6)
    exp_oov = -round(math.log((0 + 1) / (0 + 3)) * 1e6)
    assert rows[1].nll_micros == exp_in
    assert rows[2].nll_micros == exp_oov
    assert rows[1].nll_micros < rows[2].nll_micros  # fluent < gibberish


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster lands in exactly one split, and
    singletons get their plain hash_split assignment
    (operators/sampling.py:leakage_safe_split)."""
    from sql_based_etl_spark.operators.sampling import hash_split, leakage_safe_split

    docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (150, 151)], "doc_a long, doc_b long"
    )
    out = leakage_safe_split(docs, pairs).select("doc_id", "split_key", "split")
    by_id = {r.doc_id: (r.split_key, r.split) for r in out.collect()}
    assert len(by_id) == 200
    for cluster in ([1, 2, 3], [10, 11], [150, 151]):
        keys = {by_id[d] for d in cluster}
        assert len(keys) == 1, f"cluster {cluster} split across {keys}"
        assert by_id[cluster[0]][0] == min(cluster)
    plain = {r.doc_id: r.split for r in hash_split(docs).collect()}
    clustered = {1, 2, 3, 10, 11, 150, 151}
    for d, (key, split) in by_id.items():
        if d not in clustered:
            assert key == d and split == plain[d]


def test_label_outliers_matches_numpy_model(spark):
    """Bottom-k-per-label cosines agree with an independent numpy
    replay of the micros-quantized centroid + left-fold cosine
    (operators/similarity.py:label_outliers)."""
    import numpy as np

    from sql_based_etl_spark.operators.similarity import label_outliers
    from sql_based_etl_spark.queries._util import load

    emb = load(spark, SF_ORACLE, "embeddings")
    got = {
        (r.label, r.rank): (r.vec_id, r.centroid_cos)
        for r in label_outliers(emb, k=2).collect()
    }
    rows = emb.select("label", "vec_id", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(
            (r.vec_id, np.array(r.embedding, dtype=np.float64))
        )
    def round_half_away(x):  # Spark's ROUND, not numpy's half-even
        return np.sign(x) * np.floor(np.abs(x) + 0.5)

    for label, members in by_label.items():
        micros = np.stack([round_half_away(v * 1e6) for _, v in members])
        cent = round_half_away(micros.sum(axis=0) / len(members)) / 1e6
        scored = []
        for vid, v in members:
            cos = float(v @ cent) / (np.linalg.norm(v) * np.linalg.norm(cent))
            scored.append((round(cos, 6), vid))
        scored.sort()
        for rank, (cos, vid) in enumerate(scored[:2], start=1):
            assert got[(label, rank)] == (vid, cos), (label, rank)


def test_sketch_and_curation_stages_via_pipeline(spark):
    """The round-3 curation operators are reachable through the
    declarative stage surface: SketchTransform (kmv/overlap/histogram),
    TableProfile key_skew, SamplingTransform leakage_safe,
    SimilaritySearchTransform label_outliers."""
    from sql_based_etl_spark.engine.pipeline import Pipeline

    stages = [
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/documents.parquet",
         "outputView": "docs"},
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/embeddings.parquet",
         "outputView": "embs"},
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/events.parquet",
         "outputView": "events"},
        {"type": "SQLTransform", "outputView": "docs_a",
         "sql": "SELECT * FROM docs WHERE doc_id % 2 = 0"},
        {"type": "SQLTransform", "outputView": "docs_b",
         "sql": "SELECT * FROM docs WHERE doc_id % 2 = 1"},
        {"type": "SketchTransform", "inputView": "docs_a", "outputView": "sk_a",
         "method": "kmv", "column": "text"},
        {"type": "SketchTransform", "inputView": "docs_b", "outputView": "sk_b",
         "method": "kmv", "column": "text"},
        {"type": "SketchTransform", "aView": "sk_a", "bView": "sk_b",
         "outputView": "overlap", "method": "kmv_overlap"},
        {"type": "SketchTransform", "inputView": "events", "outputView": "quant",
         "method": "histogram", "column": "value", "lo": 0.0, "hi": 500.0,
         "bins": 1000, "quantiles": [0.5, 0.9]},
        {"type": "TableProfile", "inputView": "events", "outputView": "skew",
         "analysis": "key_skew", "keyColumn": "user_id", "topN": 5},
        {"type": "SamplingTransform", "inputView": "docs", "outputView": "splits",
         "method": "leakage_safe", "threshold": 0.5},
        {"type": "SimilaritySearchTransform", "inputView": "embs",
         "outputView": "noisy", "method": "label_outliers", "k": 2},
        {"type": "SimilaritySearchTransform", "inputView": "embs",
         "outputView": "pca_proj", "method": "pca", "k": 4, "dim": 16},
    ]
    ctx = Pipeline(spark).run(stages)
    ov = ctx.views["overlap"].collect()[0]
    assert ov.jaccard_est == 0.0  # doc texts are unique across halves
    qs = {r.q: r.value_est for r in ctx.views["quant"].collect()}
    assert set(qs) == {0.5, 0.9} and 0.0 < qs[0.5] < qs[0.9] < 500.0
    skew = ctx.views["skew"].collect()
    assert len(skew) == 5 and all(r.skew_factor >= 0 for r in skew)
    splits = ctx.views["splits"]
    assert {"split", "split_key"} <= set(splits.columns)
    assert splits.count() == ctx.views["docs"].count()
    noisy = ctx.views["noisy"]
    assert noisy.columns == ["label", "vec_id", "centroid_cos", "rank"]
    assert noisy.groupBy("label").count().agg({"count": "max"}).collect()[0][0] <= 2
    pca = ctx.views["pca_proj"]
    assert pca.columns == ["id", "pc", "score"]
    assert pca.select("pc").distinct().count() == 4


def test_stream_window_histograms_merge_to_batch(spark):
    """Folding every closed window's histogram with histogram_merge
    equals the batch histogram of all events — the 'hours fold into
    days without rescanning' claim (streaming/events.py:
    windowed_histogram + operators/sketches.py:histogram_merge)."""
    from sql_based_etl_spark.operators.sketches import histogram_merge, histogram_sketch
    from sql_based_etl_spark.queries._util import load
    from sql_based_etl_spark.queries.streaming import run_bounded
    from sql_based_etl_spark.streaming.events import (
        read_events_stream,
        windowed_histogram,
    )

    stream = read_events_stream(spark, f"{SF_ORACLE}/events.parquet")
    out, _ = run_bounded(windowed_histogram(stream), mode="complete")
    # histogram_merge is counter addition — folding EVERY window at
    # once is one groupBy, the same algebra as pairwise merging
    folded = histogram_merge(
        out.select("bin", "cnt"), out.select("bin", "cnt").limit(0)
    )
    batch = histogram_sketch(load(spark, SF_ORACLE, "events"), "value", 0.0, 500.0, 100)
    assert {(r.bin, r.cnt) for r in folded.collect()} == {
        (r.bin, r.cnt) for r in batch.collect()
    }


def test_top_fraction_per_group_exact_counts_and_threshold(spark):
    """top_fraction_per_group keeps exactly ceil(frac·n) rows per group
    and every kept score dominates every dropped score
    (operators/sampling.py)."""
    import math

    from sql_based_etl_spark.operators.sampling import top_fraction_per_group
    from sql_based_etl_spark.queries._util import load

    docs = load(spark, SF_ORACLE, "documents").select("doc_id", "lang", "n_chars")
    kept = top_fraction_per_group(docs, "lang", 0.25, order_col="n_chars")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_rows = kept.collect()
    by_lang: dict[str, list] = {}
    for r in kept_rows:
        by_lang.setdefault(r.lang, []).append(r)
    all_rows = docs.collect()
    for lang, n in sizes.items():
        k = by_lang.get(lang, [])
        assert len(k) == math.ceil(0.25 * n), (lang, len(k), n)
        kept_ids = {r.doc_id for r in k}
        dropped = [r.n_chars for r in all_rows if r.lang == lang and r.doc_id not in kept_ids]
        if dropped:
            assert min(r.n_chars for r in k) >= max(dropped)


def test_pca_matches_numpy_and_projection_is_exact(spark):
    """pca_train's components reproduce numpy PCA on the same
    quantized-covariance matrix (same eigenvalues, loadings up to the
    shared sign convention), and pca_project equals the left-fold dot
    product of vector × component (operators/similarity.py)."""
    import numpy as np

    from sql_based_etl_spark.operators.similarity import (
        embedding_covariance,
        pca_project,
        pca_train,
    )
    from sql_based_etl_spark.queries._util import load

    emb = load(spark, SF_ORACLE, "embeddings").persist()
    dim, k = 16, 4
    comps = pca_train(emb, dim=dim, k=k).collect()

    # independent covariance replay in numpy (same millis quantization)
    rows = emb.select("vec_id", "embedding").collect()
    x = np.stack([np.array(r.embedding[:dim], dtype=np.float64) for r in rows])
    xq = np.sign(x * 1000.0) * np.floor(np.abs(x * 1000.0) + 0.5)
    n = len(xq)
    s = xq.sum(axis=0)
    cov = np.round(((xq.T @ xq) - np.outer(s, s) / n) / n / 1e6, 9)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    assert [round(c.explained_var, 8) for c in comps] == [
        round(float(vals[i]), 8) for i in order
    ]
    for c, idx in zip(comps, order):
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        assert np.allclose(c.pv, v, atol=1e-9), c.pc
    # explained variance is sorted and the covariance relation agrees
    evs = [c.explained_var for c in comps]
    assert evs == sorted(evs, reverse=True)
    got_cov = {
        (r.i, r.j): r.cov for r in embedding_covariance(emb, dim=dim).collect()
    }
    for (i, j), v in got_cov.items():
        assert v == cov[i, j], (i, j)

    comps_df = pca_train(emb, dim=dim, k=k)
    proj = pca_project(emb, comps_df, dim=dim)
    some = proj.filter(F.col("id") == rows[0].vec_id).collect()
    v0 = np.array(rows[0].embedding, dtype=np.float64)[:dim]
    for r in some:
        expect = float(np.dot(v0, np.array(comps[r.pc].pv)))
        assert abs(r.score - round(expect, 6)) <= 1e-6
    emb.unpersist()


def test_kmv_estimate_grouped_matches_solo(spark):
    """Per-group estimates from the grouped sketch equal the ungrouped
    estimator run on each group's slice (operators/sketches.py)."""
    from sql_based_etl_spark.operators.dedup import words_col
    from sql_based_etl_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
        kmv_sketch_grouped,
    )
    from sql_based_etl_spark.operators.sketches import kmv_estimate_grouped
    from sql_based_etl_spark.queries._util import load

    docs = load(spark, SF_ORACLE, "documents")
    words = docs.select("lang", F.explode(words_col("text")).alias("w")).persist()
    grouped = {
        r.g: (r.n_kept, r.h_k, r.distinct_est)
        for r in kmv_estimate_grouped(
            kmv_sketch_grouped(words, "lang", "w", k=64), k=64
        ).collect()
    }
    for lang in grouped:
        solo = kmv_estimate(
            kmv_sketch(words.filter(F.col("lang") == lang), "w", k=64), k=64
        ).collect()[0]
        assert grouped[lang] == (solo.n_kept, solo.h_k, solo.distinct_est), lang
    words.unpersist()


def test_stream_materialized_aggregate_equals_batch(spark, tmp_path):
    """The streaming materialized view
    (streaming/events.py:stream_materialized_aggregate) ends bounded
    input exactly equal to the batch groupBy, and a replayed micro-batch
    (crash between checkpoint advance and commit) changes nothing."""
    from sql_based_etl_spark.streaming.events import (
        read_events_stream,
        stream_materialized_aggregate,
    )
    from sql_based_etl_spark.tables.incremental import IncrementalAggregate
    from sql_based_etl_spark.tables.versioned import VersionedTable
    from sql_based_etl_spark.queries._util import load

    base, agg = str(tmp_path / "ev_base"), str(tmp_path / "ev_agg")
    stream = read_events_stream(spark, SF_ORACLE + "/events.parquet")
    q = stream_materialized_aggregate(
        stream, base, agg, group_cols=["event_type"], sum_cols=["value"],
        num_partitions=2,
    )
    q.processAllAvailable()
    q.stop()

    events = load(spark, SF_ORACLE, "events")
    expect = {
        (r.event_type, r.s, r.n)
        for r in events.groupBy("event_type").agg(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    got = {
        (r.event_type, r.sum_value_micros, r.n)
        for r in VersionedTable(spark, agg).read().collect()
    }
    assert got == expect

    # replay: batch id 0 is already in the base manifest -> append is
    # skipped and the refresh is a source_version no-op
    from sql_based_etl_spark.streaming.events import append_stream_batch

    t = VersionedTable(spark, base)
    v_before = t.latest_version()
    assert append_stream_batch(events.limit(5), 0, base, 2) is False
    IncrementalAggregate(spark, base, agg, ["event_type"], ["value"], 2).refresh()
    assert t.latest_version() == v_before
    assert {
        (r.event_type, r.sum_value_micros, r.n)
        for r in VersionedTable(spark, agg).read().collect()
    } == expect


def test_range_partitioned_sorted_export(spark, tmp_path):
    """FileLoad rangePartitionBy writes disjoint-range, internally
    sorted files (each footer's min/max covers its own key slice), and
    reading back with a key predicate prunes to a subset of files
    (engine/stages/load.py:file_load)."""
    import glob

    import pyarrow.parquet as pq

    from sql_based_etl_spark.engine.pipeline import Pipeline

    out = str(tmp_path / "sorted_export")
    Pipeline(spark).run([
        {"type": "ParquetExtract", "inputURI": f"{SF_ORACLE}/orders.parquet",
         "outputView": "orders"},
        {"type": "FileLoad", "inputView": "orders", "outputURI": out,
         "rangePartitionBy": ["o_orderkey"], "numPartitions": 4},
    ])
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        keys = [
            (md.row_group(g).column(c).statistics.min,
             md.row_group(g).column(c).statistics.max)
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
            if md.schema.column(c).name == "o_orderkey"
        ]
        ranges.append((min(k[0] for k in keys), max(k[1] for k in keys)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"
    # round-trip preserves the data
    assert spark.read.parquet(out).count() == spark.table("orders").count()


def test_stream_materialized_aggregate_restart_from_checkpoint(spark, tmp_path):
    """Kill the streaming materialized view after the first batch,
    restart from the same checkpointLocation with new input: the
    restarted query resumes at the next batch and the final aggregate
    equals the batch groupBy of ALL input — exactly-once end-to-end
    through a real checkpoint (streaming/events.py:
    stream_materialized_aggregate)."""
    import glob
    import shutil

    from sql_based_etl_spark.streaming.events import stream_materialized_aggregate
    from sql_based_etl_spark.tables.versioned import VersionedTable

    src = tmp_path / "src"
    src.mkdir()
    base, agg = str(tmp_path / "mv_base"), str(tmp_path / "mv_agg")
    ckpt = str(tmp_path / "mv_ckpt")
    schema = "k string, x double"

    def put(name, rows):
        stage = str(tmp_path / ("w_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.move(glob.glob(stage + "/part-*.parquet")[0], str(src / name))

    def start():
        return stream_materialized_aggregate(
            spark.readStream.schema(schema).parquet(str(src)),
            base, agg, group_cols=["k"], sum_cols=["x"], num_partitions=1,
            checkpoint=ckpt,
        )

    put("a.parquet", [("a", 1.0), ("b", 2.0)])
    q = start()
    q.processAllAvailable()
    q.stop()  # crash after batch 0
    base_versions = len(VersionedTable(spark, base).versions())

    put("b.parquet", [("a", 3.5)])
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    # batch 0 was not reprocessed: exactly one new base version
    assert len(VersionedTable(spark, base).versions()) == base_versions + 1
    got = {
        (r.k, r.sum_x_micros, r.n)
        for r in VersionedTable(spark, agg).read().collect()
    }
    assert got == {("a", 4_500_000, 2), ("b", 2_000_000, 1)}


def test_image_dhash_ignores_bmp_alpha(spark):
    """image_dhash on a 32-bit BMP: luminance comes from the RGB
    channels — the alpha plane must be ignored, and the hash must equal
    the same image encoded as 24-bit RGB."""
    import numpy as np

    from sql_based_etl_spark.operators.multimodal import image_dhash
    from tests.test_imagecodecs import encode_bmp

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(10, 12, 3), dtype=np.uint8)
    alpha = rng.randint(0, 256, size=(10, 12, 1), dtype=np.uint8)
    rgba = np.concatenate([rgb, alpha], axis=2)

    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(rgba))), (2, bytearray(encode_bmp(rgb)))],
        "doc_id long, payload binary")
    got = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    assert len(got[1]) == 64 and set(got[1]) <= {"0", "1"}
    assert got[1] == got[2], "alpha plane must not affect the hash"
