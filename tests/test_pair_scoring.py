"""Pair-similarity scoring runs once per pair and on every core.

- A global sort over an all-pairs result samples its child down to the
  nearest exchange: without the all-pairs exchange the sampler re-runs the
  nested-loop scoring, and the join emits every pair twice.
- q_embedding_near_dup fans its single-file scan out, so the nested loop's
  streamed side runs on more than one task.
- The set-size Jaccard union (|A| + |B| − |A∩B|) equals size(array_union)
  for arrays that carry duplicate and null elements.
"""

from __future__ import annotations

import math
import random

import pyspark.sql.functions as F

from otlp_wire_spark.operators import dedup
from otlp_wire_spark.plans.asserts import plan_nodes
from otlp_wire_spark.queries_ext import q_embedding_near_dup

N = 24


def _pair_joins(df):
    return [
        n
        for n in plan_nodes(df)
        if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec"
    ]


def _joined_rows(df) -> int:
    return sum(
        int(j.metrics().get("numOutputRows").get().value()) for j in _pair_joins(df)
    )


def _tables(spark, tmp_path):
    """Single-file parquet documents and embeddings, the registry tables'
    layout; docs are variants of three templates, so some pairs pass 0.5."""
    rnd = random.Random(11)
    templates = [[f"t{k}w{i}" for i in range(14)] for k in range(3)]
    docs = []
    for i in range(N):
        toks = list(templates[i % 3])
        toks[rnd.randrange(len(toks))] = f"x{i}"
        docs.append((i, " ".join(toks)))
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(N)]
    out = []
    for name, rows, schema in (
        ("documents", docs, "doc_id long, text string"),
        ("embeddings", vecs, "vec_id long, embedding array<double>"),
    ):
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        out.append(spark.read.parquet(path))
    return out


def test_sorted_all_pairs_join_each_pair_once(spark, tmp_path):
    docs, vecs = _tables(spark, tmp_path)
    for pairs in (
        dedup.jaccard_pairs(docs, threshold=0.5),
        dedup.embedding_cosine_pairs(vecs, threshold=0.3),
    ):
        ordered = pairs.orderBy("id_a", "id_b")
        # a non-empty result: AQE prunes an empty one, metrics and all
        assert ordered.collect()
        assert _pair_joins(ordered)
        assert _joined_rows(ordered) == N * (N - 1) // 2


def test_embedding_near_dup_scores_on_more_than_one_task(spark, tmp_path):
    _tables(spark, tmp_path)
    df = q_embedding_near_dup(spark, str(tmp_path))
    df.collect()
    (join,) = _pair_joins(df)
    assert join.execute().getNumPartitions() > 1


def test_set_size_jaccard_matches_union_on_duplicates_and_nulls(spark):
    base = [f"s{i}" for i in range(20)]
    rows = [
        (1, base + base[:6] + [None]),
        (2, base[:19] + [None, None, "y", "y"]),
        (3, base[1:] + ["s3", "s3", "s3"]),
        (4, [None] + base[:17] + ["z"]),
        (5, [f"u{i}" for i in range(12)] + ["u0"]),
    ]
    side = spark.createDataFrame(rows, "id long, sh array<string>")
    got = {
        (r.id_a, r.id_b): r.jaccard_q4
        for r in dedup.near_dup_pairs(
            None, bucket_cap=10_000, threshold=0.5, shingles=side
        ).collect()
    }
    sets = {i: set(sh) for i, sh in rows}
    cand = [
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(None, shingles=side).collect()
    ]
    # the Python set form: null is one element, duplicates count once
    want = {}
    for a, b in cand:
        jac = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if jac >= 0.5:
            want[(a, b)] = math.floor(jac * 10000.0)
    assert got == want
    assert len(got) >= 3
    # the array_union form in Spark, on the same pairs
    a = side.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = side.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    union_form = spark.createDataFrame(list(got), "id_a long, id_b long").join(
        a, "id_a"
    ).join(b, "id_b").select(
        "id_a",
        "id_b",
        F.floor(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
            * F.lit(10000.0)
        ).alias("q4"),
    )
    assert {(r.id_a, r.id_b): r.q4 for r in union_form.collect()} == got
