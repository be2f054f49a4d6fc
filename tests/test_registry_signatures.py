"""Every registered op is a ``(spark, sf_dir) -> DataFrame`` callable.

The harness, the CLI and perfbench call each ``QUERIES`` value with
exactly ``(spark, sf_dir)``, so a further parameter is one no caller of
the registry can reach.  An op may keep more only when ``EXTRA`` names
it with its reason: another caller (a test or the package) sets those
parameters directly on the operator.  An ``EXTRA`` entry that no longer
matches the op's signature fails the test, so the list cannot go stale.
"""

from __future__ import annotations

import inspect

from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES

EXTRA = {
    "ann_lsh_topk": (
        ("multi_probe",), "the multi-probe tests switch the probe off"
    ),
    "text_zipf_topk": (("k",), "test_extensions reads a longer Zipf head"),
    "basket_pairs": (("k",), "test_extensions reads a longer pair list"),
    "text_chunks": (
        ("tokens", "stride"),
        "dedup.chunk_level_duplicates chunks with stride == size; "
        "test_dedup passes tokens",
    ),
    "embedding_kmeans": (
        ("driver_max",),
        "test_similarity forces the distributed loop with driver_max=0",
    ),
    "corpus_fixed_sample": (("n",), "test_corpus samples other sizes"),
    "text_bpe_merges": (("rounds",), "the BPE tests run other round counts"),
}


def _extra(fn) -> tuple[str, ...]:
    params = list(inspect.signature(fn).parameters)
    assert params[:2] == ["spark", "sf_dir"], params
    return tuple(params[2:])


def test_registered_ops_take_spark_and_sf_dir_only():
    extra = {name: _extra(fn) for name, fn in QUERIES.items()}
    assert {n: e for n, e in extra.items() if e and n not in EXTRA} == {}
    assert {n: e for n, (e, _) in EXTRA.items() if extra.get(n) != e} == {}
