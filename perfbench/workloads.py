"""The benchmark's workloads: set-up, the timed op, output checks, and the
per-layer numbers of a traced op.

Every input comes from `synth_transcripts` with the run's seed, cut to a
fixed number of turns so that every seed gives the same input size, and
cached in even splits so that work per task does not depend on the seed's
draw of conversation lengths. The program sees only the generated turns.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gliner_spark.config import DEFAULT
from gliner_spark.kernel.oracle import OraclePipeline
from gliner_spark.operators.cooccur import induce_cooccurrence
from gliner_spark.operators.graph import (
    label_propagation,
    pagerank,
    strongly_connected_components,
)
from gliner_spark.operators.linking import (
    candidate_pairs,
    canonicalize,
    minhash_signatures,
    surface_table,
    verified_pairs,
)
from gliner_spark.operators.linking_incremental import (
    build_linking_state,
    canonical_map_from_state,
)
from gliner_spark.operators.ner import extract_entities
from gliner_spark.operators.relations import extract_triples
from gliner_spark.pipeline import run_pipeline
from gliner_spark.sources.transcripts import synth_transcripts
from gliner_spark.streaming.linking import fold_mention_batch

from .kernel_micro import microrun
from .tracing import (
    Tracer,
    attach_spark_metrics,
    pipeline_spans,
    self_times,
    spark_total,
)

ENTITY_TYPES = ["person", "organization", "location", "service", "tool"]
RELATIONS = ["works for", "located in", "uses"]
CFG = DEFAULT
MB = 1e6

STAGES = ("entities", "triples_re", "triples_cooccur", "canon_map",
          "triples_canonical", "nodes", "edges")


def fixed_turns(spark: SparkSession, n_turns: int, seed: int,
                min_words: int = 4, max_words: int = 30) -> DataFrame:
    """The first `n_turns` turns, in (conv_id, turn_idx) order, of the
    transcript mix: the last conversation may be cut short, so the input
    size does not depend on the seed. Cached in one even split per core."""
    n_convs = n_turns // 5 + 16
    while True:
        t = synth_transcripts(spark, n_convs, seed=seed, min_words=min_words,
                              max_words=max_words)
        per_conv = t.groupBy("conv_id").count().orderBy("conv_id").collect()
        if sum(r["count"] for r in per_conv) >= n_turns:
            break
        n_convs *= 2
    left = n_turns
    for r in per_conv:
        if r["count"] >= left:
            last, keep = r["conv_id"], left
            break
        left -= r["count"]
    sel = t.where(
        (F.col("conv_id") < last)
        | ((F.col("conv_id") == last) & (F.col("turn_idx") < keep))
    ).repartition(spark.sparkContext.defaultParallelism).cache()
    if sel.count() != n_turns:
        raise RuntimeError("fixed_turns selected the wrong number of turns")
    return sel


def even_turns(spark: SparkSession, n_convs: int, per_conv: int, seed: int,
               min_words: int, max_words: int) -> DataFrame:
    """The first `per_conv` turns of each of the first `n_convs`
    conversations, in conv_id order, that have at least that many. Every
    seed gives the same conversation shape, so work that pairs mentions
    across turns depends on the seed's words only, not on its draw of
    conversation lengths. Cached in one even split per core."""
    n = 2 * n_convs
    while True:
        t = synth_transcripts(spark, n, seed=seed, min_words=min_words,
                              max_words=max_words)
        ids = [r.conv_id for r in (
            t.groupBy("conv_id").count().where(F.col("count") >= per_conv)
            .orderBy("conv_id").limit(n_convs).collect())]
        if len(ids) == n_convs:
            break
        n *= 2
    sel = t.where(
        F.col("conv_id").isin(ids) & (F.col("turn_idx") < per_conv)
    ).repartition(spark.sparkContext.defaultParallelism).cache()
    if sel.count() != n_convs * per_conv:
        raise RuntimeError("even_turns selected the wrong number of turns")
    return sel


def linkable(entities: DataFrame) -> DataFrame:
    """The mentions the pipeline links: name-like spans only."""
    return entities.where(
        F.col("tok_end") - F.col("tok_start") < CFG.link_max_tokens
    )


def same_rows(got: list[tuple], want: list[tuple], tol: float = 1e-5) -> bool:
    """Equal row multisets, the last field (a score) compared within tol."""
    got, want = sorted(got), sorted(want)
    return len(got) == len(want) and all(
        g[:-1] == w[:-1] and abs(g[-1] - w[-1]) < tol for g, w in zip(got, want)
    )


def dir_mb(*paths: str) -> float:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


def span(tracer: Tracer | None, name: str, **attrs):
    return contextlib.nullcontext() if tracer is None else tracer.span(name, **attrs)


def span_metrics(spans) -> dict:
    """Duration, jobs, executor time, shuffle, spill and the worst task
    skew over the spans given."""
    return {
        "s": sum(s.dur for s in spans),
        "jobs": spark_total(spans, "jobs"),
        "run_s": spark_total(spans, "run_s"),
        "shuffle_write_mb": spark_total(spans, "shuffle_write_b") / MB,
        "spill_mb": spark_total(spans, "spill_b") / MB,
        "skew": max((s.attrs["spark"]["skew"] for s in spans), default=1.0),
    }


def named(spans, name: str) -> dict:
    return span_metrics([s for s in spans if s.name == name])


def stage_metrics(spans) -> dict:
    """stage -> metrics of its compute: the stage span's children (produce
    and write) when StageRunner ran it, else the stage span itself."""
    out = {}
    for i, s in enumerate(spans):
        if s.name.startswith("stage."):
            kids = [c for c in spans if c.parent == i]
            out[s.attrs["stage"]] = span_metrics(kids or [s])
    return out


def engine_totals(spans) -> dict:
    m = span_metrics(spans)
    return {
        "spark.jobs": m["jobs"],
        "spark.executor_run_s": m["run_s"],
        "spark.shuffle_write_mb": m["shuffle_write_mb"],
        "spark.spill_mb": m["spill_mb"],
    }


class Workload:
    """Input, oracle sample and kernel pass shared by the workloads."""

    name = ""
    n_turns = 0
    min_words, max_words = 4, 30
    sample_turns = 0  # turns checked against the oracle, in key order
    micro_turns = 0   # turns in the driver-side kernel pass
    per_conv = 0      # > 0: per_conv turns of each of n_turns / per_conv convs

    def __init__(self, spark: SparkSession, seed: int, tmp: str):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.turns: DataFrame | None = None

    def make_input(self) -> None:
        if self.turns is not None:
            self.turns.unpersist()
        if self.per_conv:
            self.turns = even_turns(self.spark, self.n_turns // self.per_conv,
                                    self.per_conv, self.seed, self.min_words,
                                    self.max_words)
        else:
            self.turns = fixed_turns(self.spark, self.n_turns, self.seed,
                                     self.min_words, self.max_words)

    def first_turns(self, n: int) -> list:
        return (self.turns.select("conv_id", "turn_idx", "text")
                .orderBy("conv_id", "turn_idx").limit(n).collect())

    def setup(self) -> None:
        """The oracle's entities and RE triples for the sample turns."""
        rows = self.first_turns(self.sample_turns)
        self.sample = {(r.conv_id, r.turn_idx): r.text for r in rows}
        texts = list(self.sample.values())
        oracle = OraclePipeline(CFG)
        self.want_ents = dict(zip(self.sample, oracle.run(texts, ENTITY_TYPES)))
        self.want_triples = dict(
            zip(self.sample, oracle.extract_relations(texts, RELATIONS, ENTITY_TYPES))
        )

    def traced(self, tracer: Tracer):
        return contextlib.nullcontext()

    def check_sample(self, entities: DataFrame, triples: DataFrame) -> list[str]:
        """Entities and RE triples of the sample turns equal the oracle's
        (per-turn text equality under stable turn order), and every span's
        text is the turn's text at its offsets."""
        convs = sorted({c for c, _t in self.sample})
        got_e = {k: [] for k in self.sample}
        got_t = {k: [] for k in self.sample}
        for got, df in ((got_e, entities), (got_t, triples)):
            for row in df.where(F.col("conv_id").isin(convs)).collect():
                got.get((row.conv_id, row.turn_idx), []).append(row)
        errors = []
        for k, text in self.sample.items():
            want = [(e["start"], e["end"], e["text"], e["label"], e["score"])
                    for e in self.want_ents[k]]
            got = [(e.start, e.end, e.text, e.label, e.score) for e in got_e[k]]
            if not same_rows(got, want):
                errors.append(f"entities of turn {k} differ from the oracle")
            if any(text[e.start:e.end] != e.text for e in got_e[k]):
                errors.append(f"entity text of turn {k} is not the turn text")
            want = [(t["source"], t["relation"], t["target"], t["start"], t["end"],
                     t["score"]) for t in self.want_triples[k]]
            got = [(t.subj, t.pred, t.obj, t.start, t.end, t.score) for t in got_t[k]]
            if not same_rows(got, want):
                errors.append(f"RE triples of turn {k} differ from the oracle")
            # a relation span may lie in the prompt prefix (negative offsets)
            if any(t.start >= 0 and text[t.start:t.end].strip() != t.obj
                   for t in got_t[k]):
                errors.append(f"triple object of turn {k} is not the turn text")
        return errors

    def kernel_layers(self) -> dict:
        texts = [r.text for r in self.first_turns(self.micro_turns)]
        k = microrun(texts, ENTITY_TYPES, RELATIONS, CFG)
        self.ner_us_per_turn = k["ner_us_per_turn"]
        return {f"kernel.{n}": k[n] for n in (
            "tokenize_us_per_turn", "score_us_per_turn", "score_ragged_us_per_turn",
            "decode_us_per_turn", "pad_ratio", "kept_ratio")}

    def extraction_layers(self, m: dict, counts: dict) -> dict:
        ner, rel, co = m["entities"], m["triples_re"], m["triples_cooccur"]
        return {
            "ner.stage_s": ner["s"],
            "ner.rows": counts["entities"],
            "ner.task_skew": ner["skew"],
            # executor time of the NER stage beyond the kernel's own cost
            "ner.boundary_s": ner["run_s"] - self.ner_us_per_turn * self.n_turns / 1e6,
            "relations.stage_s": rel["s"],
            "relations.rows": counts["triples_re"],
            "relations.task_skew": rel["skew"],
            "cooccur.stage_s": co["s"],
            "cooccur.rows": counts["triples_cooccur"],
            "cooccur.shuffle_write_mb": co["shuffle_write_mb"],
            "cooccur.spill_mb": co["spill_mb"],
            "cooccur.task_skew": co["skew"],
        }

    def pipeline_layers(self, tracer: Tracer, out_dir: str) -> dict:
        """Linking, lineage and graph-build numbers of a traced
        `run_pipeline` whose root span is tracer.spans[0]."""
        spans = tracer.spans
        own = self_times(spans)
        stages = [i for i, s in enumerate(spans) if s.name.startswith("stage.")]
        m = stage_metrics(spans)
        return {
            "linking.stage_s": m["canon_map"]["s"],
            "linking.jobs": m["canon_map"]["jobs"],
            "linking.shuffle_write_mb": m["canon_map"]["shuffle_write_mb"],
            "linking.rewrite_s": m["triples_canonical"]["s"],
            # what StageRunner adds around a stage's compute
            "lineage.bookkeeping_s": sum(own[i] for i in stages),
            "lineage.extra_jobs": sum(spans[i].attrs["spark"]["jobs"] for i in stages),
            "lineage.write_s": sum(s.dur for s in spans if s.name == "write"),
            "graph.nodes_s": m["nodes"]["s"],
            "graph.edges_s": m["edges"]["s"],
            # run_pipeline's own time outside its stages
            "trace.uncovered_s": own[0],
            **self.linking_counts(out_dir),
        }

    def linking_counts(self, out_dir: str) -> dict:
        """Candidate and verified pairs of the linking primitives on a
        pipeline run's own mentions, counted in an untimed pass."""
        ents = linkable(self.spark.read.parquet(os.path.join(out_dir, "entities")))
        surfaces = surface_table(ents).localCheckpoint()
        sigs = minhash_signatures(surfaces, CFG.minhash_perms, CFG.shingle_size)
        pairs = candidate_pairs(
            sigs, CFG.lsh_bands, max(CFG.minhash_perms // CFG.lsh_bands, 1)
        ).localCheckpoint()
        n_cand = pairs.count()
        n_ver = verified_pairs(pairs, surfaces, CFG.jaccard_threshold,
                               CFG.shingle_size).count()
        return {"linking.candidate_pairs": n_cand,
                "linking.verify_ratio": n_ver / max(n_cand, 1)}

    def kg_dir(self, tracer: Tracer, r: dict) -> tuple[str, dict]:
        """-> (output dir of a pipeline run over this workload's input,
        per-layer numbers the op itself did not give)."""
        raise NotImplementedError

    def extra_layers(self, tracer: Tracer, r: dict) -> tuple[dict, list[str]]:
        """The layers the op does not reach, on this workload's own data:
        graph analytics over the KG's edges, and the live-feed fold of a
        new shard into linking state built from the KG's mentions."""
        kg, out = self.kg_dir(tracer, r)
        errors = self.analytics(tracer, kg)
        state_mb, more = self.ingest(tracer, kg)
        attach_spark_metrics(self.spark.sparkContext, tracer.spans)
        spans = tracer.spans
        return {
            **out,
            "graph.pagerank_s": named(spans, "graph.pagerank")["s"],
            "graph.pagerank_jobs": named(spans, "graph.pagerank")["jobs"],
            "graph.scc_s": named(spans, "graph.scc")["s"],
            "graph.lpa_s": named(spans, "graph.lpa")["s"],
            "ingest.re_s": named(spans, "ingest.re")["s"],
            "ingest.fold_s": named(spans, "ingest.fold")["s"],
            "ingest.fold_jobs": named(spans, "ingest.fold")["jobs"],
            "ingest.state_mb": state_mb,
            "ingest.replay_s": named(spans, "ingest.replay")["s"],
        }, errors + more

    def analytics(self, tracer: Tracer, kg: str) -> list[str]:
        """PageRank, SCC and label propagation over the KG's edges table,
        each result written to parquet, then checked: PageRank mass sums
        to 1, and each result has one row per vertex."""
        edges = self.spark.read.parquet(os.path.join(kg, "edges"))
        out = os.path.join(self.tmp, "analytics")
        steps = (
            ("graph.pagerank", lambda: pagerank(edges)),
            ("graph.scc", lambda: strongly_connected_components(
                edges, "subj_id", "obj_id")),
            ("graph.lpa", lambda: label_propagation(
                edges, src_col="subj_id", dst_col="obj_id")),
        )
        for name, make in steps:
            with tracer.span(name):
                make().write.parquet(f"{out}/{name}")
        ids = edges.where(F.col("subj_id") != F.col("obj_id"))
        n_vertices = (
            ids.select(F.col("subj_id").alias("id"))
            .union(ids.select(F.col("obj_id").alias("id"))).distinct().count()
        )
        res = {name: self.spark.read.parquet(f"{out}/{name}") for name, _m in steps}
        pr = res["graph.pagerank"].agg(F.count(F.lit(1)), F.sum("rank")).first()
        scc = res["graph.scc"].agg(
            F.count(F.lit(1)), F.sum((F.col("component") > F.col("id")).cast("int"))
        ).first()
        errors = []
        if abs(pr[1] - 1.0) > 1e-6:
            errors.append(f"PageRank mass is {pr[1]!r}, not 1")
        if scc[1]:
            errors.append("an SCC component id is not its smallest member")
        for name, n in (("pagerank", pr[0]), ("scc", scc[0]),
                        ("lpa", res["graph.lpa"].count())):
            if n != n_vertices:
                errors.append(f"{name} has {n} rows for {n_vertices} vertices")
        return errors

    def ingest(self, tracer: Tracer, kg: str) -> tuple[float, list[str]]:
        """Fold one new shard, of this workload's shape and drawn with
        another seed, into linking state built from the KG's mentions, as
        a live feed does: append the shard's RE triples the way
        `stream_to_kg` does, then `fold_mention_batch`. Also times the skip
        of a re-delivered batch id, and checks the folded map against batch
        `canonicalize` over corpus and shard (exact with no bucket cap, the
        parity `linking_incremental` documents)."""
        spark, batch = self.spark, 1
        corpus = linkable(spark.read.parquet(os.path.join(kg, "entities")))
        shard = fixed_turns(spark, self.shard_turns, self.seed + 7919,
                            self.min_words, self.max_words)
        with tracer.span("ingest.state_build"):
            build_linking_state(corpus, "base", max_bucket_size=None)
        mentions = linkable(extract_entities(shard, ENTITY_TYPES, CFG))
        with tracer.span("ingest.re"):
            (extract_triples(shard, RELATIONS, ENTITY_TYPES, CFG)
             .withColumn("batch_id", F.lit(batch))
             .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(os.path.join(self.tmp, "ingest", "triples_stream")))
        with tracer.span("ingest.fold"):
            folded = fold_mention_batch(mentions, batch, "base", "live",
                                        max_bucket_size=None)
        with tracer.span("ingest.replay"):
            replayed = fold_mention_batch(mentions, batch, "base", "live",
                                          max_bucket_size=None)
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        state = [os.path.join(wh, d) for d in os.listdir(wh)
                 if d.startswith(f"live_b{batch}_")]
        errors = []
        if not folded or replayed:
            errors.append("the fold did not run once and skip its replay")
        cols = ["surface", "entity_id", "canonical", "ent_type", "n_mentions",
                "entity_mentions"]
        got = canonical_map_from_state(spark, f"live_b{batch}").select(cols).collect()
        want = canonicalize(corpus.unionByName(mentions),
                            max_bucket_size=None).select(cols).collect()
        if sorted(map(tuple, got)) != sorted(map(tuple, want)):
            errors.append("folded canonical map differs from batch canonicalize")
        shard.unpersist()
        return dir_mb(*state), errors


class ChatBuild(Workload):
    """A cold `run_pipeline` into an empty output dir."""

    name = "chat_build"
    n_turns = 2000
    sample_turns = 64
    micro_turns = 1000
    shard_turns = 500

    def op(self, i: int, tracer: Tracer | None = None) -> dict:
        out = os.path.join(self.tmp, "chat", f"op{i}")
        res = run_pipeline(self.spark, self.turns, out, ENTITY_TYPES, RELATIONS,
                           cfg=CFG, input_token=f"chat-{self.seed}-{i}")
        return {"out": [out], "dir": out, "res": res}

    def check(self, r: dict) -> tuple[dict, list[str]]:
        """-> (stage row counts, failures)."""
        res = r["res"]
        counts = {row.stage: row.n_rows for row in res.runner.lineage().collect()}
        errors = [f"stage {s} missing or empty" for s in STAGES if not counts.get(s)]
        dangling = (
            res.edges.select(F.col("subj_id").alias("entity_id"))
            .union(res.edges.select(F.col("obj_id").alias("entity_id")))
            .join(res.nodes, "entity_id", "left_anti").count()
        )
        if dangling:
            errors.append(f"{dangling} edge endpoints missing from nodes")
        return counts, errors + self.check_sample(res.entities, res.triples)

    def traced(self, tracer: Tracer):
        return pipeline_spans(tracer)

    def layers(self, tracer: Tracer, r: dict, counts: dict) -> dict:
        return {**self.extraction_layers(stage_metrics(tracer.spans), counts),
                **self.pipeline_layers(tracer, r["dir"])}

    def kg_dir(self, tracer: Tracer, r: dict) -> tuple[str, dict]:
        return r["dir"], {}


class LongturnExtract(Workload):
    """Entities, fused NER+RE triples and co-occurrence triples over long
    turns, each written to parquet."""

    name = "longturn_extract"
    n_turns = 320
    per_conv = 4
    min_words, max_words = 200, 380
    sample_turns = 8
    micro_turns = 40
    kg_turns = 40
    shard_turns = 40

    def op(self, i: int, tracer: Tracer | None = None) -> dict:
        out = os.path.join(self.tmp, "long", f"op{i}")
        steps = (
            ("entities", lambda: extract_entities(self.turns, ENTITY_TYPES, CFG)),
            ("triples_re", lambda: extract_triples(
                self.turns, RELATIONS, ENTITY_TYPES, CFG)),
            ("triples_cooccur", lambda: induce_cooccurrence(
                self.spark.read.parquet(f"{out}/entities"), CFG.turn_window)),
        )
        for stage, make in steps:
            with span(tracer, f"stage.{stage}", stage=stage):
                make().write.parquet(f"{out}/{stage}")
        return {"out": [out], "dir": out}

    def check(self, r: dict) -> tuple[dict, list[str]]:
        read = lambda s: self.spark.read.parquet(f"{r['dir']}/{s}")  # noqa: E731
        counts = {s: read(s).count() for s in STAGES[:3]}
        errors = [f"stage {s} is empty" for s, n in counts.items() if not n]
        far = read("triples_cooccur").where(
            (F.col("dist") < 0) | (F.col("dist") > CFG.turn_window)).count()
        if far:
            errors.append(f"{far} co-occurrence pairs outside the turn window")
        return counts, errors + self.check_sample(read("entities"), read("triples_re"))

    def layers(self, tracer: Tracer, r: dict, counts: dict) -> dict:
        return self.extraction_layers(stage_metrics(tracer.spans), counts)

    def kg_dir(self, tracer: Tracer, r: dict) -> tuple[str, dict]:
        """A traced `run_pipeline` over the first `kg_turns` of the long
        turns (the op stops before linking), for the linking, lineage and
        graph layers. Its root span is the extra tracer's first."""
        out = os.path.join(self.tmp, "long", "kg")
        turns = fixed_turns(self.spark, self.kg_turns, self.seed,
                            self.min_words, self.max_words)
        with pipeline_spans(tracer), tracer.span("run_pipeline"):
            run_pipeline(self.spark, turns, out, ENTITY_TYPES, RELATIONS,
                         cfg=CFG, input_token=f"long-{self.seed}")
        turns.unpersist()
        attach_spark_metrics(self.spark.sparkContext, tracer.spans)
        return out, self.pipeline_layers(tracer, out)


WORKLOADS = {w.name: w for w in (ChatBuild, LongturnExtract)}
