"""The benchmark workloads: inputs, one iteration, its check, its trace.

Each workload is closed loop with one client: ``iterate`` makes the public
calls of one iteration and returns once the result is committed or
collected; the next iteration starts after it. ``check`` compares a result
with the reference computed in ``prepare`` before any timing. ``trace``
calls the same public functions one layer at a time under spans and returns
the layer figures that need no event log.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import inputs
import reference
from spans import Tracer, join_output_rows, plan_has

NUM_SHARDS = 8
ROUTE_FIELDS = ["severity", "severity_text", "record_count"]


def _noop(df) -> None:
    """Materialize ``df`` without producing output."""
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, hidden and marker files excluded."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total / 1e6, files


class Route:
    """Flagship fused pipeline: scan → parse → enrich → FNV shard + one
    exchange → per-shard sinks with Observation counters."""

    name = "route"
    pages = 60_000
    # the prefixes are short, so each is run this many times and the
    # median taken; a single reading of a layer's self time is noise-bound
    prefix_rounds = 3

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.pages_dir = os.path.join(work, "pages")
        ids = inputs.page_window(seed, self.pages)
        htmls = inputs.write_pages(self.pages_dir, ids)
        self.ref = reference.route_reference(ids, htmls, NUM_SHARDS)
        self.docs = len(ids)
        self._runs = 0

    def _run_dir(self) -> str:
        self._runs += 1
        d = os.path.join(self.work, "runs", str(self._runs))
        shutil.rmtree(d, ignore_errors=True)
        return d

    def iterate(self, spark) -> dict:
        from otlp_wire_spark.fixtures.pages import generate_lookup
        from otlp_wire_spark.pipeline import run_pipeline

        run_dir = self._run_dir()
        res = run_pipeline(
            spark, spark.read.parquet(self.pages_dir), generate_lookup(spark),
            run_dir, num_shards=NUM_SHARDS, persist_stages=False,
        )
        return {"result": res, "run_dir": run_dir}

    def check(self, out: dict) -> list[str]:
        res = out["result"]
        got = {
            "band_counts": res.band_counts,
            "per_shard": res.per_shard,
            "context_count": res.context_count,
            "context_bytes": res.context_bytes,
            "quarantined": res.quarantined,
        }
        bad = reference.diff(self.ref, got)
        if res.stages_skipped:
            bad.append(f"stages skipped: {res.stages_skipped}")
        return bad

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["run_dir"], ignore_errors=True)

    def trace(self, spark, tr: Tracer, optional: bool = True) -> tuple[dict, list[str]]:
        """Layer prefixes, each materialized with a noop write, then the
        committed sink read back (the read side of the same layer).
        Returns (figures, mismatches)."""
        from pyspark.sql import Observation

        from otlp_wire_spark.fixtures.pages import generate_lookup
        from otlp_wire_spark.operators.classify import (
            band_histogram,
            context_stats,
        )
        from otlp_wire_spark.operators.counting import per_group_counts
        from otlp_wire_spark.operators.enrich import enrich, with_url_host
        from otlp_wire_spark.operators.parse import parse_pages
        from otlp_wire_spark.operators.route import (
            with_shard,
            write_sharded_with_manifest,
        )

        fig: dict = {"scan.input_mb": _dir_stats(self.pages_dir)[0]}
        pages = spark.read.parquet(self.pages_dir)
        parsed = parse_pages(pages, fields=ROUTE_FIELDS)
        enriched = enrich(with_url_host(parsed), generate_lookup(spark))
        fig["enrich.broadcast"] = int(plan_has(enriched, "BroadcastHashJoinExec"))
        err = F.col("parsed.parse_error")
        # the exact counters the fused pipeline observes on its write
        counters = [
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.when(err.isNotNull(), 1).otherwise(0)).alias("quarantined"),
            F.sum(F.when(err.isNull(), F.col("parsed.record_count"))).alias("records"),
            F.sum(F.when(err.isNull(), F.length("html"))).alias("bytes"),
        ]
        routed = with_shard(enriched, "url", NUM_SHARDS).withColumn(
            "shard", F.when(err.isNotNull(), F.lit(-1)).otherwise(F.col("shard"))
        ).repartition(NUM_SHARDS, F.col("shard"))
        sink = os.path.join(self.work, "trace_sink")
        for _ in range(self.prefix_rounds):
            with tr.span("scan"):
                _noop(pages)
            obs = Observation("parse")
            with tr.span("parse.prefix"):
                _noop(parsed.observe(obs, F.count(F.lit(1)).alias("n")))
            fig["parse.rows"] = int(obs.get["n"])
            # the fused pipeline counts on the write itself (Observation),
            # so the counting prefix is the parse prefix plus those counters
            obs = Observation("counting")
            with tr.span("counting.prefix"):
                _noop(parsed.observe(obs, *counters))
            counted = obs.get
            obs = Observation("enrich")
            with tr.span("enrich.prefix"):
                _noop(enriched.observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.count("context").alias("hit"),
                ))
            fig["enrich.hit_ratio"] = int(obs.get["hit"]) / max(1, int(obs.get["n"]))
            with tr.span("route.prefix"):
                _noop(routed)
            with tr.span("write.prefix"):
                manifest = write_sharded_with_manifest(routed, sink, NUM_SHARDS)
        fig["write.strategy"] = 1 if manifest.strategy == "observe" else 0
        fig["write.output_mb"], fig["write.files"] = _dir_stats(sink)

        bad = []
        committed = spark.read.parquet(sink)
        clean_sink = committed.where(err.isNull())
        with tr.span("classify"):
            bands = band_histogram(clean_sink, severity_col="parsed.severity").collect()
            ctx = context_stats(clean_sink).collect()[0]
            shards = per_group_counts(committed, "shard").collect()
        band_counts = [0] * 6
        for r in bands:
            band_counts[int(r["band"])] = int(r["n"])
        per_shard = {
            int(r["shard"]): {
                "page_count": int(r["page_count"]),
                "record_count": int(r["record_count"] or 0),
                "byte_count": int(r["byte_count"] or 0),
            }
            for r in shards if int(r["shard"]) >= 0
        }
        quarantined = sum(int(r["page_count"]) for r in shards if int(r["shard"]) < 0)
        bad += reference.diff(self.ref, {
            "band_counts": band_counts,
            "per_shard": per_shard,
            "context_count": int(ctx["context_count"]),
            "context_bytes": int(ctx["context_bytes"]),
            "quarantined": quarantined,
        })
        bad += reference.diff(self.ref["per_shard"], dict(manifest))
        counts = [v["page_count"] for v in manifest.values()]
        fig["route.shard_skew"] = max(counts) / (sum(counts) / len(counts))
        fig["counting.quarantined"] = int(counted["quarantined"])
        bad += reference.diff(
            {"quarantined": self.ref["quarantined"],
             "records": sum(v["record_count"] for v in self.ref["per_shard"].values()),
             "bytes": sum(v["byte_count"] for v in self.ref["per_shard"].values())},
            {k: int(counted[k] or 0) for k in ("quarantined", "records", "bytes")},
        )
        shutil.rmtree(sink, ignore_errors=True)
        return fig, bad


class Curate:
    """Curation pipeline (curate → shingle → LSH near-dup → decontaminate →
    redact → pack), then incremental admission of the newest 10%."""

    name = "curate"
    documents = 300
    _queries = ["curation_pipeline", "incremental_curate"]

    def prepare(self, work: str, seed: int, with_reference: bool = True) -> None:
        self.dir = os.path.join(work, "documents")
        os.makedirs(self.dir, exist_ok=True)
        inputs.permuted_documents(
            os.path.join(self.dir, "documents.parquet"), seed, self.documents
        )
        if with_reference:
            self.ref = reference.duckdb_reference(self.dir, self._queries)
        self.docs = self.documents

    def iterate(self, spark) -> dict:
        from otlp_wire_spark.queries_ext import (
            q_curation_pipeline,
            q_incremental_curate,
        )

        pipe = q_curation_pipeline(spark, self.dir)
        pipe_rows = pipe.collect()
        t_admit = time.perf_counter()
        admit = q_incremental_curate(spark, self.dir)
        admit_rows = admit.collect()
        return {
            "admit_s": time.perf_counter() - t_admit,
            "rows": {"curation_pipeline": (pipe.columns, pipe_rows),
                     "incremental_curate": (admit.columns, admit_rows)},
        }

    def check(self, out: dict, ref: dict | None = None) -> list[str]:
        got = {q: reference.rowset(c, r) for q, (c, r) in out["rows"].items()}
        return reference.diff(self.ref if ref is None else ref, got)

    def cleanup(self, out: dict) -> None:
        pass

    def trace(self, spark, tr: Tracer, optional: bool = True) -> tuple[dict, list[str]]:
        return self.layers(spark, tr, self.ref)

    def layers(self, spark, tr: Tracer, ref: dict) -> tuple[dict, list[str]]:
        """The composition of ``q_curation_pipeline``, each layer persisted
        and materialized under its own span, then the admission. Outputs
        are checked against ``ref``."""
        from otlp_wire_spark.cacheutil import persist_into, retire_oldest
        from otlp_wire_spark.operators import dedup
        from otlp_wire_spark.operators.curate import (
            contaminated_ids,
            curate,
            redact_text,
        )
        from otlp_wire_spark.operators.pack import pack_sequences
        from otlp_wire_spark.operators.textstats import tokens_norm_col
        from otlp_wire_spark.queries import _fanout
        from otlp_wire_spark.queries_ext import _PIPE_SEQ_LEN, q_incremental_curate
        from otlp_wire_spark.shipping import ensure_session_ready

        fig: dict = {}
        caches: list = []
        ensure_session_ready(spark)
        docs = _fanout(spark.read.parquet(os.path.join(self.dir, "documents.parquet")))
        with tr.span("curate.filter"):
            kept = persist_into(
                curate(docs, langs=("en",), min_quality=0.3, min_tokens=3),
                caches, eager=True,
            )
        fig["curate.kept_ratio"] = kept._spark_graft_rows / self.docs
        with tr.span("dedup.shingle"):
            sh = persist_into(
                dedup.shingle_table(kept, "doc_id", "text", n=3), caches, eager=True
            )
        lsh = dict(k=16, bands=4, n=3, bucket_cap=10_000_000, impl="arrow",
                   shingles=sh)
        with tr.span("dedup.candidates"):
            fig["dedup.candidates"] = dedup.minhash_lsh_candidates(
                kept, "doc_id", "text", **lsh
            ).count()
        with tr.span("dedup.near_dup"):
            pairs = persist_into(
                dedup.near_dup_pairs(kept, "doc_id", "text", threshold=0.5, **lsh),
                caches, eager=True,
            )
        fig["dedup.verified"] = pairs._spark_graft_rows
        fig["dedup.verify_yield"] = pairs._spark_graft_rows / max(
            1, fig["dedup.candidates"]
        )
        drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        kept2 = kept.join(drop, "doc_id", "left_anti")
        with tr.span("curate.decontaminate"):
            contam = persist_into(
                contaminated_ids(
                    kept2, docs.where(F.col("doc_id") % 101 == 0), "doc_id",
                    "text", n=3, corpus_shingles=sh,
                ),
                caches, eager=True,
            )
        fig["curate.contaminated"] = contam._spark_graft_rows
        kept3 = kept2.join(contam, "doc_id", "left_anti")
        with tr.span("curate.redact"):
            counted = persist_into(
                kept3.select(
                    "doc_id", redact_text(F.col("text")).alias("clean_text")
                ).select(
                    "doc_id",
                    F.size(tokens_norm_col(F.col("clean_text"))).alias("n_tokens"),
                ),
                caches, eager=True,
            )
        with tr.span("pack"):
            packed = pack_sequences(counted, seq_len=_PIPE_SEQ_LEN).collect()
        fig["pack.sequences"] = len({r["seq_id"] for r in packed})
        retire_oldest(caches)
        with tr.span("curate.admit"):
            admit = q_incremental_curate(spark, self.dir)
            admit_rows = admit.collect()
        fig["curate.admit_jobs"] = tr.jobs_in("curate.admit")
        bad = reference.diff(
            ref["incremental_curate"], reference.rowset(admit.columns, admit_rows)
        )
        got = reference.rowset(
            ["seq_id", "doc_id", "doc_tok_start", "doc_tok_end", "n_toks"], packed
        )
        bad += reference.diff(ref["curation_pipeline"], got)
        return fig, bad


class Pairs:
    """All-pairs similarity: exact n-gram Jaccard over documents and exact
    cosine over embeddings (today a nested-loop self-join each)."""

    name = "pairs"
    documents = 160
    vectors = 320
    _queries = ["ngram_jaccard_pairs", "embedding_near_dup"]

    def prepare(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "tables")
        os.makedirs(self.dir, exist_ok=True)
        inputs.document_window(
            os.path.join(self.dir, "documents.parquet"), seed, self.documents
        )
        inputs.sampled_embeddings(
            os.path.join(self.dir, "embeddings.parquet"), seed, self.vectors
        )
        self.ref = reference.duckdb_reference(self.dir, self._queries)
        self.docs = self.documents + self.vectors
        # the curation layers share the documents and dedup code, and are
        # traced in this workload's traced run
        self.curate = Curate()
        self.curate.prepare(work, seed, with_reference=False)

    def _queries_fns(self):
        from otlp_wire_spark.queries_ext import (
            q_embedding_near_dup,
            q_ngram_jaccard_pairs,
        )

        return {"ngram_jaccard_pairs": q_ngram_jaccard_pairs,
                "embedding_near_dup": q_embedding_near_dup}

    def iterate(self, spark) -> dict:
        rows = {}
        for q, fn in self._queries_fns().items():
            df = fn(spark, self.dir)
            rows[q] = (df.columns, df.collect())
        return {"rows": rows}

    def check(self, out: dict) -> list[str]:
        got = {q: reference.rowset(c, r) for q, (c, r) in out["rows"].items()}
        return reference.diff(self.ref, got)

    def cleanup(self, out: dict) -> None:
        pass

    def trace(self, spark, tr: Tracer, optional: bool = True) -> tuple[dict, list[str]]:
        """The two similarity calls under spans, then (if ``optional``) the
        curation layers."""
        fig: dict = {}
        rows = {}
        for q, fn in self._queries_fns().items():
            key = "pairs.jaccard" if q == "ngram_jaccard_pairs" else "pairs.cosine"
            df = fn(spark, self.dir)
            with tr.span(key):
                got = df.collect()
            rows[q] = (df.columns, got)
            fig[f"{key}_compared"] = join_output_rows(df)
            fig[f"{key}_kept"] = len(got)
        bad = self.check({"rows": rows})
        if optional:
            cfig, cbad = self.trace_curate(spark, tr)
            fig.update(cfig)
            bad += cbad
        return fig, bad

    def trace_curate(self, spark, tr: Tracer) -> tuple[dict, list[str]]:
        """The curation workload's layers on this seed's documents table:
        one untimed iteration warms the plans and gives the answer the
        layer-by-layer composition must reproduce, then the layers, then
        one whole iteration under the ``curate.iteration`` span. (The
        DuckDB reference of the curation queries takes tens of seconds, so
        only the ``curate`` workload, run by hand, checks against it.)"""
        from spans import cache_state

        warm = self.curate.iterate(spark)
        ref = {q: reference.rowset(c, r) for q, (c, r) in warm["rows"].items()}
        fig, bad = self.curate.layers(spark, tr, ref)
        with tr.span("curate.iteration"):
            out = self.curate.iterate(spark)
        fig["cache.mb"], fig["cache.entries"] = cache_state(spark)
        bad += self.curate.check(out, ref)
        return fig, bad


WORKLOADS = {w.name: w for w in (Route, Curate, Pairs)}
