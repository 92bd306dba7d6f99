from __future__ import annotations

import pytest

from kma_information_retrieval_spark.corpus import local_corpus, synthetic_corpus
from kma_information_retrieval_spark.oracle import OracleIndex
from kma_information_retrieval_spark.session import get_spark

N_DOCS = 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kma_ir_tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    return synthetic_corpus(spark, N_DOCS, 4).cache()


@pytest.fixture(scope="session")
def oracle():
    return OracleIndex({r["doc_id"]: r["content"] for r in local_corpus(N_DOCS)})


@pytest.fixture(scope="session")
def indexes(spark, docs):
    """Shared IndexBundle over the synthetic corpus."""
    from kma_information_retrieval_spark import operators as ops
    from kma_information_retrieval_spark.operators.boolean import IndexBundle

    toks = ops.token_frame(docs).cache()
    post = ops.postings(toks).cache()
    dic = ops.dictionary(post).cache()
    vocab = dic.select("term")
    bundle = IndexBundle(
        postings=post,
        all_docs=docs.select("doc_id"),
        positional=ops.positional_index(toks).cache(),
        vocab=vocab,
        trigrams=ops.trigram_index(vocab).cache(),
        permuterm=ops.permuterm_index(vocab).cache(),
        bigrams=ops.bigram_index(docs).cache(),
        grams2=ops.gram2_index(vocab).cache(),
    )
    stats = ops.collection_stats(docs, toks).collect()[0]
    bundle.stats = {
        "n_docs": stats["total_documents"],
        "avgdl": stats["avgdl"],
        "total_words": stats["total_words"],
    }
    bundle.dictionary = dic
    bundle.doclen = ops.doc_lengths(toks).cache()
    return bundle


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), names)``: the names of the Spark
    jobs ``fn`` launched, read from the status store the way
    ``perfbench/spans.py`` harvests stages. The store lists jobs newest
    first; the listener bus is drained before every read."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        listed = store.jobsList(None)
        return (listed.apply(i) for i in range(listed.size()))

    def run(fn):
        job0 = next((j.jobId() for j in jobs()), -1)
        out = fn()
        names = []
        for j in jobs():
            if j.jobId() <= job0:
                break
            names.append(j.name())
        return out, names

    return run
