"""One benchmark job process, started by ``perfbench/run.py``:

    cold set-up (session, package shipping, Python-worker warm-up, first
    untimed job) -> timed loop -> peak RSS -> output checks -> [traced
    extras: kg_web's checkpointed run and its resume, isolated layer
    actions, replay, local[1] rerun]

Run as ``python3 -m perfbench.job SPEC.json`` from the repository root.
The spec names the workload, its generated inputs and a private work
directory; the result JSON goes to ``spec["result_path"]``.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from ner_linking_demo_spark.functions import text_analysis as TA
from ner_linking_demo_spark.functions.embedder import HashEmbedder, l2_normalize
from ner_linking_demo_spark.functions.html_extract import (
    extract_text_expr,
    verify_text_fidelity,
)
from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
from ner_linking_demo_spark.functions.tokenization import words_with_offsets
from ner_linking_demo_spark.operators import dedup as D
from ner_linking_demo_spark.operators import linking as L
from ner_linking_demo_spark.oracle import oracle as O
from ner_linking_demo_spark.plans import corpus_pipeline as CP
from ner_linking_demo_spark.plans import pipeline as P
from ner_linking_demo_spark.plans.catalog import CheckpointCatalog
from ner_linking_demo_spark.session import get_spark

from .run import descendants
from .tracing import Tracer, last_job_id, patched, python_udf_metrics, stage_metrics

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# pages of the untimed warm-up job before the local[1] timing
WARM_PAGES = 100
# LSH recall floor for the planted one-word-substitution copies (Jaccard
# >= 0.8 against their source; 4 bands x 4 rows find such a pair with
# probability > 0.96)
NEAR_DUP_MIN_RECALL = 0.9
TRIPLE_COLS = ["subj", "pred", "obj", "code", "rank", "start", "end", "span", "score"]
# run_pipeline's default codes per mention, and the score tolerance
K = 3
ATOL = 1e-6
# scores are float32 matmul outputs whose last bits may depend on the
# batch a span was searched in, so they are left out of the digest and
# compared with a tolerance (see mismatched_mentions)
TRIPLE_KEY = TRIPLE_COLS[:-1]
CATALOG_TABLES = ("entities", "code2entity", "mentions", "linked", "triples", "edges")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hash_aggs(cols: list[str]) -> list:
    """Order-insensitive multiset hash: xor and the 32-bit sum of the row
    hashes (xor alone cancels duplicate rows)."""
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ]


def _span_total(spans: list[dict], name: str, **match) -> float:
    return sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == name and all(s.get(k) == v for k, v in match.items())
    )


MENTION = ["subj", "pred", "start", "end", "span"]


def mismatched_mentions(got: pd.DataFrame, want: pd.DataFrame,
                        k: int = K, atol: float = ATOL) -> int:
    """Mentions whose triples in ``got``, a linking at ``k`` codes per
    mention, differ from ``want``, the oracle's ranking of the same
    mentions, which may go on past the k-th code (ranks >= k).

    Scores must agree within ``atol``. Similarities are float32 matrix
    products whose last bits depend on how queries were batched (the
    oracle scores one query at a time, the plans batch them), so codes
    whose scores tie within ``atol`` may come in either order. The last
    tied group may hold any codes that tie with the k-th score, kept by
    the oracle or not; where nothing past the cut-off ties, it must hold
    the oracle's codes."""
    g = {key: d.sort_values("rank") for key, d in got.groupby(MENTION)}
    w = {key: d.sort_values("rank") for key, d in want.groupby(MENTION)}
    bad = len(g.keys() ^ w.keys())
    for key in g.keys() & w.keys():
        ranked = w[key]
        gs = g[key]["score"].to_numpy(np.float64)
        ws = ranked["score"].to_numpy(np.float64)
        n = int((ranked["rank"] < k).sum())
        if len(gs) != n or not np.allclose(gs, ws[:n], rtol=0, atol=atol):
            bad += 1
            continue
        gc = list(zip(g[key]["code"], g[key]["obj"]))
        wc = list(zip(ranked["code"], ranked["obj"]))
        starts = [0] + [i for i in range(1, n) if ws[i - 1] - ws[i] > atol]
        last = starts[-1]
        # every tied group but the last holds the oracle's codes
        if any(sorted(gc[a:b]) != sorted(wc[a:b]) for a, b in zip(starts, starts[1:])):
            bad += 1
            continue
        tied = set(wc[last:n]) | {
            c for c, s in zip(wc[n:], ws[n:]) if ws[n - 1] - s <= atol
        }
        if len(set(gc[last:])) != n - last or not set(gc[last:]) <= tied:
            bad += 1
    return bad


def cutoff_ties(ranking: pd.DataFrame, k: int = K, atol: float = ATOL) -> pd.DataFrame:
    """The first ``k`` rows of each mention's oracle ranking and the rows
    past them that tie with the k-th score: all that
    :func:`mismatched_mentions` reads."""
    last = ranking.loc[ranking["rank"] == k - 1, MENTION + ["score"]]
    r = ranking.merge(last.rename(columns={"score": "kth"}), on=MENTION, how="left")
    keep = (r["rank"] < k) | (r["score"] >= r["kth"] - atol)
    return r[keep].drop(columns="kth").reset_index(drop=True)


def plan_mismatches(a, b, oracle) -> tuple[int, int]:
    """Two triples DataFrames of the whole input, compared where their
    rows differ: for each side, the differing mentions it links unlike
    the oracle (:func:`mismatched_mentions`). ``oracle(urls)`` ranks the
    mentions of those pages."""
    key = MENTION + ["rank"]
    cols = key + ["code", "obj", "score"]
    a, b = a.select(*cols), b.select(*cols)
    differ = (
        a.alias("a").join(b.alias("b"), key, "full_outer")
        .filter(
            ~F.col("a.code").eqNullSafe(F.col("b.code"))
            | ~F.col("a.obj").eqNullSafe(F.col("b.obj"))
            | (F.abs(F.col("a.score") - F.col("b.score")) > ATOL)
        )
        .select(*MENTION).distinct()
    ).localCheckpoint()
    keys = differ.toPandas()
    if keys.empty:
        return 0, 0
    want = oracle(set(keys["subj"])).merge(keys, on=MENTION)
    return tuple(
        mismatched_mentions(side.join(differ, MENTION, "semi").toPandas(), want)
        for side in (a, b)
    )


class Job:
    """One job: the program call until its output is fully written to the
    noop sink, with the counters observed on that write."""

    def __init__(self, wall: float, result, observed: dict):
        self.wall = wall
        self.result = result
        self.observed = observed

    def digest(self) -> tuple:
        return tuple(self.observed[k] for k in ("n", "x", "s"))


class KGWeb:
    """kg_web: fused ``run_pipeline(from_html=True)``, no checkpoint. The
    traced run's check phase also runs the same inputs with
    ``checkpoint_dir`` set (default granularity) and the resume rerun over
    that checkpoint."""

    # timed jobs at least, even when they outlast --seconds (the traced run
    # needs one traced and one untraced job); a job takes ~9 s
    min_jobs = 2

    def __init__(self, spark, spec: dict, tracer: Tracer):
        self.spark = spark
        self.spec = spec
        self.tracer = tracer
        self.inputs = spec["inputs"]
        self.n_in = spec["manifest"]["n_docs"]
        self.pages = spark.read.parquet(os.path.join(self.inputs, "pages.parquet"))
        self.gaz = pd.read_parquet(os.path.join(self.inputs, "gazetteer.parquet"))
        self.ckpt = os.path.join(spec["work"], "ckpt")
        self.fused = os.path.join(spec["work"], "fused")
        self.trace = bool(spec["trace"])
        self.sample_urls = spec["manifest"]["oracle_urls"]
        self.ref: tuple | None = None
        self.expected: pd.DataFrame | None = None
        self.record: dict = {}
        self.catalog: dict[str, float] = {}

    def run(self, checkpoint_dir=None, sink=_noop) -> Job:
        sample = F.when(
            F.col("subj").isin(self.sample_urls), F.struct(*TRIPLE_COLS)
        )
        obs = Observation()
        t0 = time.perf_counter()
        res = P.run_pipeline(
            self.spark, self.pages, self.gaz, from_html=True,
            checkpoint_dir=checkpoint_dir,
        )
        out = res.triples.observe(
            obs, *_hash_aggs(TRIPLE_KEY), F.collect_list(sample).alias("sample")
        )
        with self.tracer.span("action"):
            sink(out)
        wall = time.perf_counter() - t0
        return Job(wall, res, obs.get)

    def job(self) -> Job:
        return self.run()

    def warm_up(self) -> None:
        """An untimed job over ``WARM_PAGES`` pages in one partition."""
        res = P.run_pipeline(
            self.spark, self.pages.limit(WARM_PAGES), self.gaz, from_html=True,
            num_partitions=1,
        )
        _noop(res.triples)

    def first_job(self) -> Job:
        """The set-up run. The traced run writes its triples to parquet
        instead of the noop sink, for the comparison with the checkpointed
        plan in :meth:`final_checks`."""
        if not self.trace:
            return self.run()
        return self.run(sink=lambda df: df.write.parquet(self.fused))

    # -- checks ------------------------------------------------------------
    def oracle(self, urls) -> pd.DataFrame:
        """oracle.oracle_triples over the pages ``urls``: the pure-pandas
        pipeline, a separate code path. It ranks every code, so that a
        tie at the k-th code can be told from a wrong code (see
        :func:`cutoff_ties`)."""
        pages = pd.read_parquet(
            os.path.join(self.inputs, "pages.parquet"), columns=["url", "text"]
        )
        pages = pages[pages["url"].isin(urls)]
        all_codes = self.gaz["code"].nunique()
        linked = O.oracle_link(O.oracle_mentions(pages, self.gaz), self.gaz, k=all_codes)
        return cutoff_ties(O.oracle_triples(linked, self.gaz)[0])

    def check(self, job: Job) -> list[str]:
        """The job's triples digest against the set-up run's, and the
        checks of :meth:`linking_errors`."""
        errors = self.linking_errors(job)
        if self.ref is not None and job.digest() != self.ref:
            errors.append(f"triples digest {job.digest()} != {self.ref}")
        return errors

    def linking_errors(self, job: Job) -> list[str]:
        """The job's sample triples against the oracle and, for the fused
        plan, every page in."""
        errors = []
        if job.result.observations:
            pages_in = job.result.metrics()["pages_in"]
            if pages_in != self.n_in:
                errors.append(f"{pages_in} of {self.n_in} pages reached NER")
        got = pd.DataFrame(
            [r.asDict() for r in job.observed["sample"]], columns=TRIPLE_COLS
        )
        bad = mismatched_mentions(got, self.expected)
        if bad:
            errors.append(f"oracle sample: {bad} mentions linked differently")
        return errors

    def _traced_run(self, name: str, checkpoint_dir: str) -> Job:
        self.tracer.job_id = name
        with self.tracer.span("job"):
            return self.run(checkpoint_dir=checkpoint_dir)

    def first_checks(self, first: Job) -> list[str]:
        """Checks of the set-up run; its digest becomes the reference."""
        self.expected = self.oracle(set(self.sample_urls))
        errors = self.check(first)
        self.ref = first.digest()
        return errors

    def final_checks(self, first: Job) -> list[str]:
        """After the timed loop: text fidelity. The traced run adds a
        checkpointed run, which must link every mention as the fused plan
        does and pass verify_invariants (it reads the snapshots, so each
        invariant is one scan, not a recomputation of the UDF stage), and
        its resume rerun, which must resume every stage and reproduce the
        checkpointed triples exactly."""
        errors = []
        bad_text = verify_text_fidelity(self.pages)
        if bad_text:
            errors.append(f"text fidelity: {bad_text} mismatching rows")
        if self.trace:
            errors += self._checkpointed_checks(first)
        return errors

    def _checkpointed_checks(self, first: Job) -> list[str]:
        ck = self._traced_run("checkpointed", self.ckpt)
        errors = [f"checkpointed: {e}" for e in self.linking_errors(ck)]
        if ck.digest() != self.ref:
            # the plans batch the similarity search differently, so float
            # ties may resolve differently: where they differ, each must
            # agree with the oracle
            bad_ck, bad_fused = plan_mismatches(
                ck.result.triples, self.spark.read.parquet(self.fused), self.oracle
            )
            if bad_ck or bad_fused:
                errors.append(
                    f"where the plans differ, {bad_ck} checkpointed and "
                    f"{bad_fused} fused mentions are linked unlike the oracle"
                )
        inv = P.verify_invariants(ck.result)
        if any(inv.values()):
            errors.append(f"verify_invariants: {inv}")
        edges_rows = ck.result.edges.count()
        rows = CheckpointCatalog(self.spark, self.ckpt).lineage()
        written = {r["table"]: r["rows_out"] for r in rows if "rows_out" in r}
        if written["mentions"] != first.result.metrics()["linked_out"]:
            errors.append(
                f"checkpointed mentions {written['mentions']} != fused "
                f"linked rows {first.result.metrics()['linked_out']}"
            )
        bytes_written = _dir_bytes(self.ckpt)

        rs = self._traced_run("resume", self.ckpt)
        errors += [f"resume: {e}" for e in self.linking_errors(rs)]
        if rs.digest() != ck.digest():
            errors.append(f"resume digest {rs.digest()} != checkpointed {ck.digest()}")
        rows = CheckpointCatalog(self.spark, self.ckpt).lineage()
        resumed = {r["table"] for r in rows if r.get("resumed")}
        if resumed != set(CATALOG_TABLES):
            errors.append(f"resume recomputed {set(CATALOG_TABLES) - resumed}")

        self.record = {"checkpointed_s": ck.wall, "resume_s": rs.wall}
        ck_spans = self.tracer.job_spans("checkpointed")
        self.catalog = {
            f"plans.catalog.write_s.{t}": _span_total(
                ck_spans, "plans.catalog.write", table=t
            )
            for t in CATALOG_TABLES
        }
        self.catalog.update({
            "plans.catalog.docs_per_s": self.n_in / ck.wall,
            "plans.catalog.write_s": _span_total(ck_spans, "plans.catalog.write"),
            "plans.catalog.snapshots": sum(
                1 for s in ck_spans if s["name"] == "plans.catalog.write"
            ),
            "plans.catalog.bytes_written": bytes_written,
            "plans.catalog.read_s": _span_total(
                self.tracer.job_spans("resume"), "plans.catalog.read"
            ),
            "plans.catalog.resumed_stages": len(resumed),
            "plans.catalog.resume_s": rs.wall,
            "operators.triples.edges_rows": edges_rows,
        })
        return errors

    # -- traced layers -----------------------------------------------------
    def job_layers(self, job: Job, spans: list[dict]) -> dict[str, float]:
        out = {
            "plans.pipeline.plan_s": _span_total(spans, "plans.pipeline.run_pipeline"),
            "plans.pipeline.action_s": _span_total(spans, "action"),
            "operators.linking.build_indexes_s": _span_total(
                spans, "operators.linking.build_indexes"
            ),
            "operators.triples.build_entities_s": _span_total(
                spans, "operators.triples.build_entities_local"
            ),
            "operators.triples.triples_rows": job.observed["n"],
            "operators.ner.mentions_rows": job.result.metrics()["linked_out"],
        }
        idx = self.tracer.last_result.get("operators.linking.build_indexes")
        if idx is not None:
            out["operators.linking.index_bytes"] = len(pickle.dumps(idx))
        return out

    def isolated_layers(self) -> dict[str, float]:
        """The catalog numbers of the check phase, html extraction as its
        own action, and a single-threaded in-driver replay of the UDF-side
        public calls over seeded page batches of the size the UDF sees."""
        out = dict(self.catalog)
        t0 = time.perf_counter()
        nulls = self.pages.select(
            F.sum(extract_text_expr("html").isNull().cast("int"))
        ).first()[0]
        out["functions.html_extract.s"] = time.perf_counter() - t0
        out["functions.html_extract.null_rows"] = int(nulls or 0)
        out.update(self._replay())
        return out

    def _replay(self, n_batches: int = 4) -> dict[str, float]:
        pages = pd.read_parquet(
            os.path.join(self.inputs, "pages.parquet"), columns=["url", "text"]
        )
        # run_pipeline hash-partitions the pages into the shuffle
        # partition count, and each partition is one UDF batch
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        batch = max(1, math.ceil(len(pages) / parts))
        rng = np.random.default_rng(self.spec["seed"])
        picked = rng.choice(
            len(pages), size=min(len(pages), batch * n_batches), replace=False
        )
        texts = list(pages["text"].iloc[picked])
        terms_by_label = {
            str(label): list(sub["term"]) for label, sub in self.gaz.groupby("label")
        }
        matcher = DictionaryMatcher(terms_by_label)
        emb = HashEmbedder()
        indexes = L.build_indexes(self.gaz, k=K, embedder=emb)
        # the UDF's embedder arrives through the broadcast, which ships it
        # without the caches build_indexes filled
        emb = pickle.loads(pickle.dumps(emb))
        acc = dict.fromkeys(
            ["tok", "match", "encode", "search", "mentions", "hits", "texts"], 0.0
        )
        ratios = []
        seen: set[str] = set()
        for b in range(0, len(texts), batch):
            chunk = texts[b:b + batch]
            t0 = time.perf_counter()
            for text in chunk:
                words_with_offsets(text)
            acc["tok"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            found = [matcher.find_mentions(text) for text in chunk]
            acc["match"] += time.perf_counter() - t0
            spans: dict[str, list[str]] = {}
            for mentions in found:
                for label, _, _, span in mentions:
                    spans.setdefault(label.upper(), []).append(span)
            n_batch = sum(len(v) for v in spans.values())
            distinct = 0
            for label, values in spans.items():
                # the UDF embeds and searches each distinct span once
                uniq = list(np.unique(np.asarray(values, dtype=object)))
                distinct += len(uniq)
                # the embedder memoizes text -> vector for the life of a
                # worker: a span seen in an earlier batch is a cache hit
                acc["hits"] += sum(u in seen for u in uniq)
                seen.update(uniq)
                t0 = time.perf_counter()
                q = l2_normalize(emb.encode(uniq))
                acc["encode"] += time.perf_counter() - t0
                t0 = time.perf_counter()
                indexes[label].search(q)
                acc["search"] += time.perf_counter() - t0
                acc["texts"] += len(uniq)
            acc["mentions"] += n_batch
            if n_batch:
                ratios.append(distinct / n_batch)
        return {
            "functions.tokenization.words_with_offsets_s": acc["tok"],
            "functions.matcher.find_mentions_s": acc["match"],
            "functions.matcher.mentions_per_page": acc["mentions"] / len(texts),
            "functions.embedder.encode_s": acc["encode"],
            "functions.embedder.texts": acc["texts"],
            "functions.embedder.cache_hit_ratio": (
                acc["hits"] / acc["texts"] if acc["texts"] else 0.0
            ),
            "functions.term_index.search_s": acc["search"],
            "functions.term_index.queries": acc["texts"],
            "functions.term_index.terms": sum(len(i.terms) for i in indexes.values()),
            "operators.linking.distinct_span_ratio": (
                statistics.mean(ratios) if ratios else 0.0
            ),
        }


class CorpusCurate:
    """corpus_curate: run_corpus_pipeline over the kg_web pages plus
    planted exact and near-duplicate copies."""

    # a job takes ~5 s, and the second is often still faster than the
    # first: with two, the spread over ten seeds reached 33% on 4 vCPUs
    min_jobs = 3

    def __init__(self, spark, spec: dict, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.manifest = spec["manifest"]
        self.n_in = self.manifest["n_docs"]
        self.docs = spark.read.parquet(os.path.join(spec["inputs"], "docs.parquet"))
        self.ref: tuple | None = None
        self.record: dict = {}
        self.planted = [i for key in ("exact_pairs", "near_pairs")
                        for pair in self.manifest[key] for i in pair]

    def job(self) -> Job:
        obs = Observation()
        t0 = time.perf_counter()
        res = CP.run_corpus_pipeline(self.spark, self.docs, min_tokens=5)
        out = res.kept.observe(
            obs,
            *_hash_aggs(["doc_id", "content_hash", "n_tokens", "dup_count"]),
            F.collect_list(
                F.when(F.col("doc_id").isin(self.planted), F.col("doc_id"))
            ).alias("planted_kept"),
        )
        with self.tracer.span("action"):
            _noop(out)
        wall = time.perf_counter() - t0
        return Job(wall, res, obs.get)

    def check(self, job: Job) -> list[str]:
        """Every planted exact copy dropped for its (lower-id) source;
        each planted near-dup pair keeps one member (which one follows
        the pipeline's representative rule), at the LSH recall floor."""
        m, o = self.manifest, job.observed
        kept = set(o["planted_kept"])
        errors = []
        if self.ref is not None and job.digest() != self.ref:
            errors.append(f"kept digest {job.digest()} != {self.ref}")
        bad_exact = [p for p in m["exact_pairs"] if p[1] in kept or p[0] not in kept]
        if bad_exact:
            errors.append(f"exact copies mis-deduplicated: {bad_exact[:3]}")
        members_kept = [(a in kept) + (b in kept) for a, b in m["near_pairs"]]
        if 0 in members_kept:
            errors.append(f"{members_kept.count(0)} near-dup pairs lost both members")
        recall = members_kept.count(1) / len(members_kept)
        if recall < NEAR_DUP_MIN_RECALL:
            errors.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_MIN_RECALL}")
        if o["n"] > m["n_docs"] - len(m["exact_pairs"]):
            errors.append(f"{o['n']} kept docs: exact dedup incomplete")
        return errors

    def first_job(self) -> Job:
        return self.job()

    def warm_up(self) -> None:
        """An untimed job over ``WARM_PAGES`` docs."""
        res = CP.run_corpus_pipeline(
            self.spark, self.docs.limit(WARM_PAGES), min_tokens=5
        )
        _noop(res.kept)

    def first_checks(self, first: Job) -> list[str]:
        errors = self.check(first)
        self.ref = first.digest()
        return errors

    def final_checks(self, first: Job) -> list[str]:
        return []

    def job_layers(self, job: Job, spans: list[dict]) -> dict[str, float]:
        return {
            "plans.corpus_pipeline.plan_s": _span_total(
                spans, "plans.corpus_pipeline.run_corpus_pipeline"
            ),
            "plans.corpus_pipeline.kept_rows": job.observed["n"],
            "plans.pipeline.action_s": _span_total(spans, "action"),
        }

    def isolated_layers(self) -> dict[str, float]:
        """Each curation layer's public call as its own action."""
        out = {}
        t0 = time.perf_counter()
        ann = TA.add_profile_columns(
            self.docs, text_col="text", lang="lang_pred", quality="quality",
            n_tokens="n_tokens", fingerprint="fingerprint",
        )
        _noop(ann)
        out["functions.text_analysis.annotate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        exact = D.exact_dedup(ann, text_col="text", id_col="doc_id")
        _noop(exact)
        out["operators.dedup.exact_s"] = time.perf_counter() - t0
        exact = exact.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        found = D.minhash_lsh_pairs(exact, text_col="text", id_col="doc_id").count()
        out["operators.dedup.minhash_s"] = time.perf_counter() - t0
        # threshold 0 keeps every verified LSH candidate pair
        candidates = D.minhash_lsh_pairs(
            exact, text_col="text", id_col="doc_id", jaccard_threshold=0.0
        ).count()
        out["operators.dedup.candidate_pairs"] = candidates
        out["operators.dedup.dup_pair_ratio"] = (
            found / candidates if candidates else 0.0
        )
        return out


WORKLOADS = {"kg_web": KGWeb, "corpus_curate": CorpusCurate}


def trace_targets(tracer: Tracer) -> list[tuple]:
    """The program's public entry points the traced run wraps. The builders
    are patched in ``plans.pipeline``'s namespace, where run_pipeline looks
    them up; patching them in their defining modules would not be seen."""

    def table(self, table, *args, **kwargs):
        return {"table": table}

    def written(self, df, table, *args, **kwargs):
        return {"table": table}

    return [
        (P, "run_pipeline", tracer.wrap(P.run_pipeline, "plans.pipeline.run_pipeline")),
        (P, "build_indexes",
         tracer.wrap(P.build_indexes, "operators.linking.build_indexes")),
        (P, "build_entities_local",
         tracer.wrap(P.build_entities_local, "operators.triples.build_entities_local")),
        (CP, "run_corpus_pipeline",
         tracer.wrap(CP.run_corpus_pipeline, "plans.corpus_pipeline.run_corpus_pipeline")),
        (CheckpointCatalog, "stage",
         tracer.wrap(CheckpointCatalog.stage, "plans.catalog.stage", table)),
        (CheckpointCatalog, "write",
         tracer.wrap(CheckpointCatalog.write, "plans.catalog.write", written)),
        (CheckpointCatalog, "read",
         tracer.wrap(CheckpointCatalog.read, "plans.catalog.read", table)),
    ]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def tree_peak_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of ``root_pid`` and all its descendants —
    the driver, the JVM and the Python workers — read from /proc, summed
    per command name. Per-process peaks need not coincide, so their total
    bounds the tree's simultaneous peak from above."""
    by_name: dict[str, float] = {}
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb = int(line.split()[1]) / 1024
                        by_name[comm] = by_name.get(comm, 0.0) + mb
        except OSError:
            continue
    return by_name


def start_session(spec: dict, cores: int):
    """The program's session on ``local[cores]``, with the package shipped
    to the Python workers and the workers started."""
    work = spec["work"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package as spark-submit --py-files would (the
    # __spark_entry__._ensure_shipped recipe): Python workers started
    # from another cwd cannot import it otherwise
    zip_base = os.path.join(work, "ship", "ner_linking_demo_spark")
    if not os.path.exists(zip_base + ".zip"):
        shutil.make_archive(
            zip_base, "zip", root_dir=REPO, base_dir="ner_linking_demo_spark"
        )
    spark.sparkContext.addPyFile(zip_base + ".zip")

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cores * 4).repartition(cores).select(F.sum(_warm("id"))).collect()
    return spark


def _parallel_efficiency(spark, spec: dict, cores: int, wall_n: float) -> float:
    """Speed-up of local[cores] over local[1], divided by ``cores``. The
    session is restarted on one core (same JVM and shuffle partition
    count); an untimed warm-up job over a few pages in one partition
    starts the new Python worker and loads the package into it, as the
    set-up run does at local[cores]; then one job is timed."""
    spark.stop()
    spark1 = start_session(spec, 1)
    try:
        wl = WORKLOADS[spec["workload"]](spark1, spec, Tracer())
        wl.warm_up()
        wall_1 = wl.job().wall
    finally:
        spark1.stop()
    return (wall_1 / wall_n) / cores


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    cores = spec["cores"]
    trace = bool(spec["trace"])
    tracer = Tracer()
    result = {"attempted": 0, "failed": 0, "failures": []}

    def record(errors: list[str], what: str) -> None:
        result["attempted"] += 1
        if errors:
            result["failed"] += 1
            result["failures"] += [f"{what}: {e}" for e in errors]

    spark = start_session(spec, cores)
    result["spark_version"] = spark.version
    wl = WORKLOADS[spec["workload"]](spark, spec, tracer)
    walls, traced_walls, untraced_walls, layers = [], [], [], []
    with patched(trace_targets(tracer)) if trace else nullcontext():
        first = wl.first_job()
        result["setup_s"] = time.time() - spec["t_spawn"]
        result["setup_rss_by_process_mb"] = tree_peak_rss_mb(os.getpid())
        record(wl.first_checks(first), "set-up run")

        deadline = time.perf_counter() + spec["seconds"]
        i = 0
        while time.perf_counter() < deadline or len(walls) < wl.min_jobs:
            # the traced run alternates traced and untraced jobs, so the
            # tracing overhead is measured within one process
            tracer.enabled = trace and i % 2 == 0
            tracer.job_id = i
            lo = last_job_id(spark) if tracer.enabled else None
            try:
                with tracer.span("job"):
                    job = wl.job()
                record(wl.check(job), f"job {i}")
            except Exception as exc:  # counted as failed; the loop goes on
                traceback.print_exc()
                record([repr(exc)], f"job {i}")
                i += 1
                continue
            walls.append(job.wall)
            if tracer.enabled:
                hi = last_job_id(spark)
                traced_walls.append(job.wall)
                d = wl.job_layers(job, tracer.job_spans(i))
                session = stage_metrics(spark, lo, hi)
                d["operators.linking.udf_stage_s"] = session.pop("udf_stage_s")
                d.update({f"session.{k}": v for k, v in session.items()})
                d.update(
                    {f"operators.linking.{k}": v
                     for k, v in python_udf_metrics(spark, lo, hi).items()}
                )
                layers.append(d)
            elif trace:
                untraced_walls.append(job.wall)
            i += 1

        # memory of the program's own jobs, before the heavier checks
        result["peak_rss_by_process_mb"] = tree_peak_rss_mb(os.getpid())
        result["peak_rss_mb"] = sum(result["peak_rss_by_process_mb"].values())
        t0 = time.perf_counter()
        tracer.enabled = trace
        try:
            errors = wl.final_checks(first)
        except Exception as exc:  # counted as failed
            traceback.print_exc()
            errors = [repr(exc)]
        record(errors, "output checks")
        tracer.enabled = False
        result["checks_s"] = time.perf_counter() - t0

    result["docs_per_s"] = [wl.n_in / w for w in walls]
    result.update(wl.record)
    if trace and traced_walls and untraced_walls:
        per_layer = {
            k: statistics.median(d[k] for d in layers if k in d)
            for k in sorted({k for d in layers for k in d})
        }
        per_layer.update(wl.isolated_layers())
        per_layer["trace.docs_per_s"] = statistics.median(
            wl.n_in / w for w in traced_walls
        )
        per_layer["trace.untraced_docs_per_s"] = statistics.median(
            wl.n_in / w for w in untraced_walls
        )
        per_layer["trace.overhead_ratio"] = 1 - (
            per_layer["trace.docs_per_s"] / per_layer["trace.untraced_docs_per_s"]
        )
        per_layer["session.parallel_efficiency"] = _parallel_efficiency(
            spark, spec, cores, statistics.median(walls)
        )
        result["layers"] = per_layer
        tracer.write(spec["spans_path"])
    else:
        spark.stop()
    with open(spec["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
