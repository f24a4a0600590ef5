"""Entity-linking stage: mentions -> candidates -> k-distinct codes.

Spark-first re-expression of the reference linking batch
(`/root/reference/server/linking/scripts/mentions_normalization.py:92-171`
+ `server/linking/src/candidates/faisslm.py:186-266`):

    mentions DF
      -> knn_candidates        (M4 embed + M5/J5 broadcast exact-IP search,
                                mapInPandas, UDTF-shaped: 1 mention ->
                                max_n_texts candidate rows)
      -> k_distinct_codes      (W3: two-window composition replacing the
                                reference's per-mention OrderedDict loop)
      -> linked mentions       (codes array<string> in first-seen order)

Plan shape: Scan -> PythonMapInArrow -> Window -> Aggregate. One shuffle,
on the mention key, for the window; the candidate explosion stays
skew-visible and checkpointable (SURVEY.md §3.3 chose the exploded form
deliberately).

Scale posture:
- the term index (float32 matrix + term/code arrays) is a Spark broadcast,
  deserialized once per executor python worker; SNOMED-scale vocabularies
  are tens of MB — always the broadcast side;
- one matmul per Arrow batch (fixes the reference's per-query search loop,
  ``faisslm.py:205-209``);
- candidate volume = mentions x max_n_texts: bounded, linear in input, and
  AQE coalesces the post-explosion partitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.embedder import HashEmbedder, l2_normalize
from ..functions.term_index import TermIndex, build_term_index


def empty_pandas(schema: T.StructType) -> pd.DataFrame:
    """Schema-stable AND type-stable empty frame for UDF yields.

    ``pd.DataFrame({name: []})`` defaults every column to float64, and
    Arrow cannot convert an empty float64-backed column to an ARRAY
    target type ("NumPyConverter doesn\'t implement list<...>"), so a
    mapInPandas batch that produced zero rows — e.g. a partition whose
    pages carry no mentions — crashed serialization for any schema with
    array columns. Object dtype for nested/string columns keeps the
    Arrow conversion on the generic path for every Spark type.
    """
    def dtype(f):
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType,
                                   T.StringType, T.BinaryType)):
            return object
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            return "float64"
        return "int64"

    return pd.DataFrame(
        {f.name: pd.Series([], dtype=dtype(f)) for f in schema.fields}
    )

MENTION_KEY = ["url", "start", "end", "label"]

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("span", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)


def build_indexes(
    gazetteer_pdf: pd.DataFrame, k: int = 3, embedder: HashEmbedder | None = None
) -> dict[str, TermIndex]:
    """One exact-IP term index per entity type (upper-cased label key,
    matching the mentions table)."""
    embedder = embedder or HashEmbedder()
    return {
        str(label).upper(): build_term_index(
            gazetteer_pdf, str(label), k=k, embedder=embedder
        )
        for label in sorted(set(gazetteer_pdf["label"]))
    }


def knn_candidates(
    mentions: DataFrame,
    indexes: dict[str, TermIndex],
    embedder: HashEmbedder | None = None,
) -> DataFrame:
    """mentions -> exploded candidates (one row per mention x neighbour,
    rank 0..max_n_texts-1 in similarity order, ties by term ordinal)."""
    spark = mentions.sparkSession
    embedder = embedder or HashEmbedder()
    bc = spark.sparkContext.broadcast((indexes, embedder))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs, emb = bc.value  # once per python worker
        for pdf in batches:
            outs = []
            for label, sub in pdf.groupby("label", sort=True):
                index = idxs.get(str(label))
                if index is None or sub.empty:
                    continue
                # search each DISTINCT span once (round-6): mention
                # surface forms repeat massively (a gazetteer-sized
                # vocabulary across a corpus-sized mention table), and
                # embed+search is a pure function of the span — the
                # per-mention results are identical by construction.
                uniq, inv = np.unique(
                    sub["span"].to_numpy(dtype=object), return_inverse=True
                )
                queries = l2_normalize(emb.encode(list(uniq)))
                u_scores, u_ids = index.search(queries)  # [u, top_n]
                scores = u_scores[inv]
                ids = u_ids[inv]
                m, top_n = scores.shape
                rep = sub.loc[sub.index.repeat(top_n)].reset_index(drop=True)
                flat_ids = ids.reshape(-1)
                outs.append(
                    pd.DataFrame(
                        {
                            "url": rep["url"],
                            "label": rep["label"],
                            "start": rep["start"],
                            "end": rep["end"],
                            "span": rep["span"],
                            "rank": np.tile(
                                np.arange(top_n, dtype=np.int32), m
                            ),
                            "term": np.asarray(index.terms, dtype=object)[
                                flat_ids
                            ],
                            "code": np.asarray(index.codes, dtype=object)[
                                flat_ids
                            ],
                            "score": scores.reshape(-1),
                        }
                    )
                )
            yield (
                pd.concat(outs)
                if outs
                else empty_pandas(CANDIDATES_SCHEMA)
            )

    return mentions.mapInPandas(run, schema=CANDIDATES_SCHEMA)


def k_distinct_codes(candidates: DataFrame, k: int) -> DataFrame:
    """W3 — THE core ranking semantic (reference ``faisslm.py:219-248``):
    walk candidates in similarity order, keep the first k *distinct* codes;
    a mention's ``codes`` array is ordered by each code's first occurrence.

    Declarative formulation (lets Catalyst plan the shuffle once):
      first_rank = min(rank)            over (mention, code)
      code_rank  = dense_rank()         over (mention) order by first_rank
      keep code_rank <= k; codes = collect in first_rank order
    ``score`` per code = similarity at its first occurrence (max, since
    ranks are similarity-ordered).
    """
    w_code = Window.partitionBy(*MENTION_KEY, "code")
    w_mention = Window.partitionBy(*MENTION_KEY).orderBy("first_rank")

    ranked = (
        candidates.withColumn("first_rank", F.min("rank").over(w_code))
        .withColumn("is_first", F.col("rank") == F.col("first_rank"))
        .filter("is_first")  # one row per (mention, code)
        .withColumn("code_rank", F.dense_rank().over(w_mention))
        .filter(F.col("code_rank") <= F.lit(k))
    )
    return ranked.select(
        *MENTION_KEY,
        "span",
        (F.col("code_rank") - 1).alias("code_rank0"),
        "code",
        "score",
    )


LINKED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("span", T.StringType(), False),
        T.StructField("codes", T.ArrayType(T.StringType()), False),
        T.StructField("scores", T.ArrayType(T.FloatType()), False),
    ]
)


def link_mentions_fused(
    mentions: DataFrame,
    indexes: dict[str, TermIndex],
    k: int,
    embedder: HashEmbedder | None = None,
) -> DataFrame:
    """Fused linking: embed + exact-IP search + k-distinct-codes scan in a
    single mapInPandas pass — the candidate explosion and both W3 window
    shuffles disappear (SURVEY.md §3.3 noted M5 can emit per-mention
    arrays directly; this is that plan, used when stage checkpointing is
    off). Chained after the NER UDF it keeps the whole pages->linked path
    in ONE Spark stage: scan -> rebalance -> [NER | link] UDFs.

    Result-identical to knn_candidates + k_distinct_codes + groupBy
    (tested in tests/test_pipeline_golden.py)."""
    spark = mentions.sparkSession
    embedder = embedder or HashEmbedder()
    bc = spark.sparkContext.broadcast((indexes, embedder, k))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs, emb, kk = bc.value
        for pdf in batches:
            outs = _fused_link_batch(pdf, idxs, emb, kk)
            yield (
                pd.concat(outs)
                if outs
                else empty_pandas(LINKED_SCHEMA)
            )

    return mentions.mapInPandas(run, schema=LINKED_SCHEMA)


def _link_spans(
    spans, index: TermIndex, emb: HashEmbedder, kk: int
) -> tuple[list, list]:
    """Per-row (codes, scores) lists for ``spans``: embed + exact-IP
    search + first-k-distinct-codes scan, computed once per DISTINCT
    span (round-6 — the whole per-span result is a pure function of the
    span, and surface forms repeat massively across a corpus)."""
    uniq, inv = np.unique(
        np.asarray(spans, dtype=object), return_inverse=True
    )
    queries = l2_normalize(emb.encode(list(uniq)))
    scores, ids = index.search(queries)
    codes_arr = np.asarray(index.codes, dtype=object)
    u_codes, u_scores = [], []
    for r in range(scores.shape[0]):
        row_codes = codes_arr[ids[r]]
        seen: dict[str, float] = {}
        for j in range(len(row_codes)):
            c = row_codes[j]
            if c not in seen:
                seen[c] = float(scores[r, j])
                if len(seen) >= kk:
                    break
        u_codes.append(list(seen.keys()))
        u_scores.append(np.array(list(seen.values()), dtype=np.float32))
    return [u_codes[i] for i in inv], [u_scores[i] for i in inv]


def _fused_link_batch(
    pdf: pd.DataFrame, idxs: dict[str, TermIndex], emb: HashEmbedder, kk: int
) -> list[pd.DataFrame]:
    outs = []
    for label, sub in pdf.groupby("label", sort=True):
        index = idxs.get(str(label))
        if index is None or sub.empty:
            continue
        codes_col, scores_col = _link_spans(
            sub["span"].to_numpy(dtype=object), index, emb, kk
        )
        out = sub[["url", "start", "end", "label", "span"]].copy()
        out["codes"] = codes_col
        out["scores"] = scores_col
        outs.append(out)
    return outs


def detect_and_link(
    pages: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    indexes: dict[str, TermIndex],
    k: int,
    embedder: HashEmbedder | None = None,
    num_partitions: int | None = None,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Single-UDF plan: pages -> linked mentions in ONE python roundtrip
    (NER matcher + embed + exact-IP search + k-distinct scan per Arrow
    batch). Halves python-worker count and removes the intermediate
    mention Arrow transfer vs chaining two mapInPandas operators — the
    throughput plan when stage checkpointing is off. Result-identical to
    detect_mentions |> link_mentions (tested)."""
    from ..functions.matcher import DictionaryMatcher

    spark = pages.sparkSession
    embedder = embedder or HashEmbedder()
    terms_by_label = {
        str(label): list(sub["term"])
        for label, sub in gazetteer_pdf.groupby("label")
    }
    bc = spark.sparkContext.broadcast(
        (terms_by_label, indexes, embedder, k)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl, idxs, emb, kk = bc.value
        matcher = DictionaryMatcher(tbl)
        for pdf in batches:
            # accumulate per-label COLUMNS directly (round-6): the
            # intermediate list-of-tuples DataFrame + pandas groupby +
            # per-group copy() cost more than the model work for a
            # dimension-sized vocabulary; mention order within the
            # batch is not part of the contract (downstream consumers
            # aggregate or explode)
            per: dict[str, tuple[list, list, list, list]] = {}
            for url, text in zip(pdf[url_col], pdf[text_col]):
                for label, start, end, span in matcher.find_mentions(text):
                    lab = label.upper()
                    cols = per.get(lab)
                    if cols is None:
                        cols = per[lab] = ([], [], [], [])
                    cols[0].append(url)
                    cols[1].append(start)
                    cols[2].append(end)
                    cols[3].append(span)
            outs = []
            for lab in sorted(per):
                index = idxs.get(lab)
                if index is None:
                    continue
                urls, starts, ends, spans = per[lab]
                codes_col, scores_col = _link_spans(spans, index, emb, kk)
                outs.append(
                    pd.DataFrame(
                        {
                            "url": urls,
                            "start": starts,
                            "end": ends,
                            "label": lab,
                            "span": spans,
                            "codes": codes_col,
                            "scores": scores_col,
                        }
                    )
                )
            yield (
                pd.concat(outs)
                if outs
                else empty_pandas(LINKED_SCHEMA)
            )

    from .ner import balance_pages

    projected = pages.select(url_col, text_col)
    # shared policy with detect_mentions (AQE sizes the UDF stage and
    # splits giant-page skew; =0 trusts the storage layout)
    balanced = balance_pages(projected, url_col, num_partitions)
    return balanced.mapInPandas(run, schema=LINKED_SCHEMA)


def _k_distinct_fold(cands: DataFrame, k: int) -> DataFrame:
    """candidates -> (mention key, span, codes, scores) in ONE exchange:
    collect each mention's candidates, sort by rank (unique per mention
    — knn_candidates emits positional ranks, the rerank paths emit
    row_numbers), and fold keeping the first ``k`` distinct codes with
    the score at each code's first occurrence. Exactly the semantic of
    ``k_distinct_codes`` + the ordered groupBy in :func:`link_mentions`,
    without the two window shuffles."""
    sorted_c = F.array_sort(
        F.collect_list(F.struct("rank", "code", "score"))
    )
    acc0 = F.array().cast("array<struct<code:string,score:float>>")
    picked = lambda col: F.aggregate(  # noqa: E731
        col,
        acc0,
        lambda acc, x: F.when(
            (F.size(acc) >= F.lit(k))
            | F.exists(acc, lambda c: c["code"] == x["code"]),
            acc,
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        x["code"].alias("code"), x["score"].alias("score")
                    )
                ),
            )
        ),
    )
    grouped = cands.groupBy(*MENTION_KEY, "span").agg(
        sorted_c.alias("_cands")
    )
    # _kd is referenced twice below (codes + scores): the separate
    # projection keeps CollapseProject from inlining (and therefore
    # re-running) the fold per output column
    folded = grouped.select(
        *MENTION_KEY, "span", picked(F.col("_cands")).alias("_kd")
    )
    return folded.select(
        *MENTION_KEY,
        "span",
        F.transform(F.col("_kd"), lambda s: s["code"]).alias("codes"),
        F.transform(F.col("_kd"), lambda s: s["score"]).alias("scores"),
    )


def link_mentions(
    mentions: DataFrame,
    indexes: dict[str, TermIndex],
    k: int,
    embedder: HashEmbedder | None = None,
    reranker: str | None = None,
) -> DataFrame:
    """Full linking stage: mentions -> (mention key, span, codes, scores),
    codes ordered by first occurrence (reference output contract:
    ``mentions_normalization.py:158-161``).

    ``reranker``: None (retrieval order, the demo path), 'crossencoder'
    or 'biencoder' — reorder ALL candidates by the reranker's score
    before the k-distinct scan (the reference's rerank variant keeps all
    candidates, `crossencoder_ranker.py:162-180`)."""
    cands = knn_candidates(mentions, indexes, embedder=embedder)
    if reranker is None:
        # Round-6 optimization (guide §2.4): the retrieval-order path
        # needs no windows at all — ONE exchange (groupBy mention, with
        # map-side partial collect) and the k-distinct scan runs as an
        # in-array fold over each mention's (<= max_n_texts) candidate
        # structs. Result-identical to k_distinct_codes + the ordered
        # groupBy (ranks are unique per mention, so "first k distinct
        # codes by rank" is a total order — parity-tested); the window
        # form below stays for the reranker paths, whose rerank scores
        # ride a different column contract.
        return _k_distinct_fold(cands, k)
    if reranker == "crossencoder":
        from .rerank import crossencoder_rerank

        cands = crossencoder_rerank(cands).select(
            *MENTION_KEY, "span", F.col("rerank").alias("rank"), "term",
            "code", F.col("ce_score").alias("score"),
        )
    elif reranker == "biencoder":
        from .rerank import biencoder_rerank

        cands = biencoder_rerank(cands).select(
            *MENTION_KEY, "span", F.col("rerank").alias("rank"), "term",
            "code", F.col("rerank_score").alias("score"),
        )
    elif reranker is not None:
        raise ValueError(f"unknown reranker: {reranker!r}")
    topk = k_distinct_codes(cands, k)
    return (
        topk.groupBy(*MENTION_KEY, "span")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("code_rank0", "code", "score"))
                ),
                lambda s: s["code"],
            ).alias("codes"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("code_rank0", "code", "score"))
                ),
                lambda s: s["score"],
            ).alias("scores"),
        )
    )
