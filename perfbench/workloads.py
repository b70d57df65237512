"""The benchmark workloads.

Each workload has three parts:

- `prepare(seed, root)`: writes the seeded inputs under `root` and returns a
  picklable `meta` dict holding the input paths and the expected output
  (from `reference.py`). Runs in the benchmark's parent process, untimed and
  cached per seed; it never imports the package under test.
- `run(ctx)`: one pass through the package's public entry points. Every
  DataFrame is rebuilt inside the pass. Spans wrap the calls into each
  layer; in a traced pass the stages are materialized one after another so
  each span owns its layer's Spark jobs.
- `check(out, meta)`: compares the pass output with the reference and
  returns (ok, result_f1, details).
"""

from __future__ import annotations

import os
from collections import defaultdict

import gen
import reference

MAX_DISTANCE = 40
KG_JACCARD = 0.8  # KgPipelineConfig's default canonicalization threshold
NEAR_DUP_JACCARD = 0.5  # minhash_lsh_pairs' default verify threshold
F1_GATE = 0.95


def _rows(table, cols=("subj", "pred", "obj", "doc_id")) -> set:
    return set(zip(*(table.column(c).to_pylist() for c in cols)))


class PassContext:
    """What a pass needs: the session, the inputs, a span recorder, whether
    the pass is traced, and a private scratch directory."""

    def __init__(self, spark, meta, tracer, traced: bool, scratch: str):
        self.spark, self.meta, self.tracer = spark, meta, tracer
        self.traced, self.scratch = traced, scratch

    def span(self, name):
        return self.tracer.span(name)


class KgBuild:
    """Staged run_kg_pipeline over entity-rich documents: every staged layer
    does work, and canonicalization merges about 8 mentions per distinct
    surface."""

    name = "kg_build"
    n_docs, n_families = 1000, 1000

    def prepare(self, seed: int, root: str) -> dict:
        docs, gazetteer = gen.entity_docs(seed, self.n_docs, self.n_families)
        return {
            "docs_dir": gen.write_docs(docs, os.path.join(root, "docs")),
            "gazetteer": gazetteer,
            "n_docs": len(docs),
            "doc_tokens": [sum(1 for _ in reference.TOKEN_RE.finditer(d["text"])) for d in docs],
            "ref": reference.kg_triples(docs, gazetteer, MAX_DISTANCE, KG_JACCARD),
        }

    def config(self, meta):
        from pytorch_ie_spark.pipeline import KgPipelineConfig

        return KgPipelineConfig(
            ner_model="gazetteer_ner",
            ner_model_config={"gazetteer": meta["gazetteer"]},
            re_model="cooccurrence_re",
            max_candidate_distance=MAX_DISTANCE,
            canonicalize=True,
            linker="lsh",
        )

    def run(self, ctx: PassContext) -> dict:
        from pytorch_ie_spark.pipeline import run_kg_pipeline
        from pytorch_ie_spark.sources.readers import source_files_from_documents

        cfg = self.config(ctx.meta)
        if not ctx.traced:
            src = source_files_from_documents(ctx.spark, ctx.meta["docs_dir"])
            triples = run_kg_pipeline(ctx.spark, src, cfg)
            return {"rows": _rows(triples.select("subj", "pred", "obj", "doc_id").toArrow())}
        return self._staged(ctx, cfg)

    def _staged(self, ctx: PassContext, cfg) -> dict:
        """run_kg_pipeline's stage composition, each stage materialized
        (localCheckpoint, eager) inside its own span."""
        from pyspark.sql import functions as F

        from pytorch_ie_spark.operators.canonicalize import canonicalize_mentions
        from pytorch_ie_spark.operators.mentions import detect_mentions
        from pytorch_ie_spark.operators.relations import extract_relations_batched
        from pytorch_ie_spark.operators.triples import dedupe_triples, relations_to_triples
        from pytorch_ie_spark.plans.skew import size_bucketed
        from pytorch_ie_spark.sources.readers import (
            documents_from_source_files,
            source_files_from_documents,
        )

        with ctx.span("readers"):
            src = source_files_from_documents(ctx.spark, ctx.meta["docs_dir"])
            docs = size_bucketed(
                documents_from_source_files(src), F.length("text"), cfg.size_bucket_width
            ).localCheckpoint()
        with ctx.span("mentions"):
            mentions = detect_mentions(
                docs,
                model_name=cfg.ner_model,
                model_config=cfg.ner_model_config,
                max_window=cfg.max_window,
                window_overlap=cfg.window_overlap,
            ).localCheckpoint()
        with ctx.span("relations"):
            relations = extract_relations_batched(
                docs,
                mentions,
                model_name=cfg.re_model,
                model_config=cfg.re_model_config,
                max_distance=cfg.max_candidate_distance,
                none_label=cfg.none_label,
                max_window=cfg.re_max_window,
            ).localCheckpoint()
        with ctx.span("canonicalize"):
            entity_map, _ = canonicalize_mentions(mentions, jaccard_threshold=cfg.jaccard_threshold)
            entity_map = entity_map.localCheckpoint()
        with ctx.span("triples"):
            triples = dedupe_triples(relations_to_triples(relations, mentions, entity_map))
            rows = _rows(triples.select("subj", "pred", "obj", "doc_id").toArrow())
        return {"rows": rows, "frames": (mentions, relations, entity_map)}

    def check(self, out: dict, meta: dict):
        score = reference.f1(out["rows"], meta["ref"])
        return score >= F1_GATE, score, {"triples": len(out["rows"])}

    def ratios(self, ctx: PassContext, out: dict) -> dict:
        from pyspark.sql import functions as F

        from pytorch_ie_spark.functions.window import enumerate_windows
        from pytorch_ie_spark.operators.candidates import candidate_pairs
        from pytorch_ie_spark.operators.canonicalize import lsh_candidate_edges, normalize_surface
        from pytorch_ie_spark.operators.triples import relations_to_triples

        cfg = self.config(ctx.meta)
        mentions, relations, entity_map = out["frames"]
        windowed = sum(
            te - ts
            for n in ctx.meta["doc_tokens"]
            for (ts, te), _ in enumerate_windows(n, cfg.max_window, cfg.window_overlap)
        )
        surfaces = mentions.select(
            normalize_surface(F.col("surface")).alias("surface_norm")
        ).dropDuplicates(["surface_norm"])
        verified = lsh_candidate_edges(
            surfaces, jaccard_threshold=cfg.jaccard_threshold, max_bucket=1000
        ).count()
        candidates = lsh_candidate_edges(surfaces, jaccard_threshold=0.0, max_bucket=1000).count()
        n_rel = relations.count()
        pairs = candidate_pairs(mentions, max_distance=cfg.max_candidate_distance).count()
        raw = relations_to_triples(relations, mentions, entity_map).count()
        return {
            "mentions.window_overlap": windowed / max(1, sum(ctx.meta["doc_tokens"])),
            "relations.pair_yield": n_rel / max(1, pairs),
            "canonicalize.edge_yield": verified / max(1, candidates),
            "triples.dedup_yield": len(out["rows"]) / max(1, raw),
        }


class IngestIncremental:
    """Seeded increments through the two-phase ingest, a no-op replay, the
    committed read, degree stats and compaction: the only sink workload."""

    name = "ingest_incremental"
    n_docs, n_parts = 1500, 2

    def prepare(self, seed: int, root: str) -> dict:
        docs = gen.base_docs(seed, self.n_docs)
        parts = gen.split_increments(seed, docs, self.n_parts)
        triples = reference.extract_triples(docs, gen.GAZETTEER_WORDS, MAX_DISTANCE)
        edges = {(s, o) for s, _, o, _ in triples}
        degree = defaultdict(lambda: [0, 0])
        for s, o in edges:
            degree[s][0] += 1
            degree[o][1] += 1
        return {
            "inc_dirs": [
                gen.write_docs(p, os.path.join(root, f"inc{i}")) for i, p in enumerate(parts)
            ],
            "full_dir": gen.write_docs(docs, os.path.join(root, "full")),
            "n_docs": len(docs),
            "ref": triples,
            "degree": {n: tuple(v) for n, v in degree.items()},
        }

    def run(self, ctx: PassContext) -> dict:
        from pyspark.sql import functions as F

        from pytorch_ie_spark.operators.graph import graph_degree_stats
        from pytorch_ie_spark.plans.incremental import (
            compact_triples,
            ingest_increment,
            read_triples,
        )
        from pytorch_ie_spark.sources.readers import source_files_from_documents

        spark, meta = ctx.spark, ctx.meta
        out_dir = os.path.join(ctx.scratch, "kg")
        with ctx.span("incremental.ingest"):
            ingested = [
                ingest_increment(spark, source_files_from_documents(spark, d), out_dir)
                for d in meta["inc_dirs"]
            ]
        with ctx.span("incremental.replay"):
            replay = ingest_increment(
                spark, source_files_from_documents(spark, meta["full_dir"]), out_dir
            )
        with ctx.span("incremental.read"):
            triples = read_triples(spark, out_dir)
            rows = _rows(triples.select("subj", "pred", "obj", "doc_id").toArrow())
        with ctx.span("graph"):
            edges = read_triples(spark, out_dir).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            degree = graph_degree_stats(edges).toArrow()
        with ctx.span("incremental.compact"):
            compacted = compact_triples(spark, out_dir, os.path.join(ctx.scratch, "compact"))
        return {
            "rows": rows,
            "ingested": ingested,
            "replay": replay,
            "degree": {n: (o, i) for n, o, i in _rows(degree, ("node", "out_degree", "in_degree"))},
            "compacted": compacted,
            "out_dir": out_dir,
        }

    def check(self, out: dict, meta: dict):
        ref = meta["ref"]
        ok = (
            out["rows"] == ref
            and out["replay"] == {"processed_units": 0, "new_triples": 0}
            and sum(r["new_triples"] for r in out["ingested"]) == len(ref)
            and sum(r["processed_units"] for r in out["ingested"]) == meta["n_docs"]
            and out["degree"] == meta["degree"]
            and out["compacted"]["rows"] == len(ref)
        )
        _, nbytes = _parquet_files(os.path.join(out["out_dir"], "triples"))
        return ok, reference.f1(out["rows"], ref), {
            "triples": len(out["rows"]),
            "bytes_per_triple": nbytes / max(1, len(out["rows"])),
        }

    def ratios(self, ctx: PassContext, out: dict) -> dict:
        files, _ = _parquet_files(os.path.join(out["out_dir"], "triples"))
        return {"incremental.rows_per_file": len(out["rows"]) / max(1, files)}


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class ExtractBulk:
    """The fused single-pass extractor over a 4x seeded replication: Python
    UDF and Arrow traffic only, no staged shuffle or canonicalization."""

    name = "extract_bulk"
    n_docs, copies = 2000, 4

    def prepare(self, seed: int, root: str) -> dict:
        docs = gen.replicated_docs(seed, self.n_docs, self.copies)
        return {
            "docs_dir": gen.write_docs(docs, os.path.join(root, "docs")),
            "n_docs": len(docs),
            "ref": reference.extract_triples(docs, gen.GAZETTEER_WORDS, MAX_DISTANCE),
        }

    def run(self, ctx: PassContext) -> dict:
        from pytorch_ie_spark.operators.extract import extract_triples_fused, fused_triples
        from pytorch_ie_spark.sources.readers import (
            documents_from_source_files,
            source_files_from_documents,
        )

        with ctx.span("extract"):
            docs = documents_from_source_files(
                source_files_from_documents(ctx.spark, ctx.meta["docs_dir"])
            )
            triples = fused_triples(
                extract_triples_fused(
                    docs,
                    ner_model="gazetteer_ner",
                    re_model="cooccurrence_re",
                    max_distance=MAX_DISTANCE,
                )
            )
            rows = _rows(triples.select("subj", "pred", "obj", "doc_id").toArrow())
        return {"rows": rows}

    def check(self, out: dict, meta: dict):
        return out["rows"] == meta["ref"], reference.f1(out["rows"], meta["ref"]), {
            "triples": len(out["rows"])
        }

    def ratios(self, ctx, out) -> dict:
        return {}


class NearDup:
    """minhash_lsh_pairs then connected_components over the corpus plus
    seeded perturbed copies: the only dedup workload."""

    name = "near_dup"
    n_docs, n_copies = 1500, 300

    def prepare(self, seed: int, root: str) -> dict:
        docs = gen.perturbed_docs(seed, self.n_docs, self.n_copies)
        return {
            "docs_dir": gen.write_docs(docs, os.path.join(root, "docs")),
            "n_docs": len(docs),
            "ref": reference.near_dup_pairs(docs, NEAR_DUP_JACCARD),
        }

    def run(self, ctx: PassContext) -> dict:
        from pyspark.sql import functions as F

        from pytorch_ie_spark.operators.canonicalize import connected_components
        from pytorch_ie_spark.operators.dedup import minhash_lsh_pairs

        path = os.path.join(ctx.meta["docs_dir"], "documents.parquet")
        with ctx.span("dedup.pairs"):
            pairs = minhash_lsh_pairs(
                ctx.spark.read.parquet(path), "doc_id", "text", jaccard_threshold=NEAR_DUP_JACCARD
            )
            if ctx.traced:
                pairs = pairs.localCheckpoint()
        with ctx.span("dedup.components"):
            comps = connected_components(
                pairs.select(
                    F.col("src_id").cast("string").alias("src"),
                    F.col("dst_id").cast("string").alias("dst"),
                )
            ).toArrow()
        members = defaultdict(list)
        for node, comp in _rows(comps, ("node", "component")):
            members[comp].append(int(node))
        rows = {(a, b) for ms in members.values() for a in ms for b in ms if a < b}
        return {"rows": rows}

    def check(self, out: dict, meta: dict):
        score = reference.f1(out["rows"], meta["ref"])
        return score >= F1_GATE, score, {"pairs": len(out["rows"])}

    def ratios(self, ctx, out) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (KgBuild(), IngestIncremental(), ExtractBulk(), NearDup())}
