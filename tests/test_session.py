"""Session configuration the workloads' warm speed rests on."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from artis_data_ingest_spark.operators.clean import strip_boilerplate_lines
from artis_data_ingest_spark.operators.dedup import exact_dedup
from artis_data_ingest_spark.operators.similarity import semantic_dedup


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_the_corpus_chain(spark):
    """The corpus operator chain (boilerplate strip → exact dedup →
    SemDeDup) needs more than Spark's default of 100 generated classes,
    so with the default least-recently-used codegen cache every rerun
    in one session recompiles most of them (70–90 of about 116 here).
    The session's cache of 1000 keeps them: a rerun compiles nothing.

    Adaptive execution numbers whole-stage-codegen stages, and may put
    a join's sides in either order, as its independent shuffle stages
    happen to finish; both end up in the generated source, so the
    first few reruns can meet a variant not yet compiled (2–6 classes).
    Once each variant is cached a rerun compiles none, so the chain is
    rerun until one compiles nothing, at most five times."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    rng = random.Random(7)
    words = [f"w{i}" for i in range(300)]
    docs, emb = [], []
    for i in range(120):
        src = f"src{i % 3}"
        lines = [
            " ".join(rng.choice(words) for _ in range(6))
            for _ in range(rng.randrange(3, 8))
        ]
        lines.insert(rng.randrange(len(lines) + 1), f"subscribe to {src}")
        # every tenth document copies the one before it
        docs.append((i, src, docs[-1][2] if i % 10 == 9 else "\n".join(lines)))
        emb.append((i, [rng.gauss(0, 1) for _ in range(8)]))
    docs = spark.createDataFrame(docs, "doc_id bigint, source string, text string")
    emb = spark.createDataFrame(emb, "vec_id bigint, embedding array<float>")

    def run() -> int:
        before = _compiled(spark)
        keep = exact_dedup(strip_boilerplate_lines(docs)).select(
            F.col("keep_doc_id").alias("vec_id")
        )
        sem = semantic_dedup(emb.join(keep, "vec_id", "left_semi"), k=8)
        sem.write.format("noop").mode("overwrite").save()
        return _compiled(spark) - before

    run()
    reruns = [run()]
    while reruns[-1] and len(reruns) < 5:
        reruns.append(run())
    assert reruns[-1] == 0, f"classes compiled per rerun: {reruns}"
