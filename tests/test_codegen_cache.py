"""The generated-class cache holds a warm pass's working set.

``session.get_spark`` sizes ``spark.sql.codegen.cache.maxEntries``; at
Spark's default of 100 entries every warm ``query_mix`` pass compiled
its whole-stage classes again (the cache's LRU segments hold 25 each).
"""

from __future__ import annotations

import uuid

from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES
from tests.plan_utils import compiled_classes

# perfbench's query_mix workload, in its order
QUERY_MIX = [
    "tpch_q3_unshipped_topk",
    "category_kpis",
    "dedup_minhash_lsh",
    "text_lang_id",
    "events_stream_sessionize",
]


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "200"


def test_second_query_mix_round_compiles_nothing(spark, sf_dir):
    def round_() -> dict[str, int]:
        compiled = {}
        for name in QUERY_MIX:
            before = compiled_classes(spark)
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            compiled[name] = compiled_classes(spark) - before
        return compiled

    # the counter sees a compile: a fresh long literal is new source
    before = compiled_classes(spark)
    spark.range(1).selectExpr(f"id + {uuid.uuid4().int >> 65}L").collect()
    assert compiled_classes(spark) > before

    round_()
    assert round_() == dict.fromkeys(QUERY_MIX, 0)
