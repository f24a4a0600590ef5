"""Seeded input generation: every file a workload reads is a pure function
of (workload, seed, scale).

``kg_web`` reads ``pages.parquet`` (the fixture page schema) and
``gazetteer.parquet``; ``corpus_curate`` reads ``docs.parquet``, pages
made the same way plus planted exact and near-duplicate copies. ``manifest.json``
holds what only the output checks use (the oracle page sample and the
planted copy ids); the program never reads it.
"""

from __future__ import annotations

import json
import os
import random

import pandas as pd

from ner_linking_demo_spark.sources import fixtures as FX

# kg_web: a ~200-codes/label gazetteer, 40% hot terms and every 50th page
# ~100x longer — matcher-bound with giant-page skew. A job costs about
# 3.3 s plus 0.18 ms per page on 4 vCPUs, so at 30k pages the per-page
# work is ~60% of it.
KG_WEB = {"n_pages": 30000, "n_codes": 200, "hot_frac": 0.4, "giant_every": 50}
# corpus_curate: fewer pages, made the same way, plus planted copies of a
# seeded share of them so that exact and near-dup dedup have real work
CORPUS_PAGES = 3000
PLANT_FRAC = 0.05
# near-dup copies differ by one substituted word; sources this long keep
# the copy's 3-shingle Jaccard above the 0.7 default threshold
NEAR_DUP_MIN_WORDS = 30
ORACLE_SAMPLE = 40

WORKLOADS = ("kg_web", "corpus_curate")


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark cannot read pandas' default nanos
    df.to_parquet(path, index=False, coerce_timestamps="us")


def generate(workload: str, seed: int, scale: float, out_dir: str) -> dict:
    """Write the workload's inputs to ``out_dir``; returns the manifest."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    n = CORPUS_PAGES if workload == "corpus_curate" else KG_WEB["n_pages"]
    n_pages = max(int(n * scale), 150)
    gaz = FX.gen_gazetteer(n_codes=KG_WEB["n_codes"], seed=seed)
    pages = FX.gen_pages(
        n_pages,
        seed=seed,
        gazetteer=gaz,
        hot_frac=KG_WEB["hot_frac"],
        giant_every=KG_WEB["giant_every"],
    )
    rng = random.Random(seed * 7919 + 17)
    manifest = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "n_codes_per_label": KG_WEB["n_codes"],
        "gazetteer_rows": len(gaz),
    }
    _write_parquet(gaz, os.path.join(out_dir, "gazetteer.parquet"))
    if workload == "corpus_curate":
        docs, planted = _plant_duplicates(pages, rng)
        path = os.path.join(out_dir, "docs.parquet")
        _write_parquet(docs, path)
        manifest.update(planted)
        manifest["n_docs"] = len(docs)
    else:
        path = os.path.join(out_dir, "pages.parquet")
        _write_parquet(pages, path)
        manifest["n_docs"] = len(pages)
        manifest["oracle_urls"] = sorted(
            rng.sample(list(pages["url"]), min(ORACLE_SAMPLE, len(pages)))
        )
    manifest["input_bytes"] = os.path.getsize(path)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _plant_duplicates(
    pages: pd.DataFrame, rng: random.Random
) -> tuple[pd.DataFrame, dict]:
    """docs(doc_id, url, text, lang): the pages, then one exact copy of a
    seeded ``PLANT_FRAC`` of them and a one-word-substituted copy of
    another; returns the (source, copy) doc_id pairs. Copies take higher
    doc_ids than their sources."""
    docs = pages[["url", "text", "lang"]].copy()
    docs.insert(0, "doc_id", range(len(docs)))
    n_plant = max(int(len(docs) * PLANT_FRAC), 2)
    long_enough = [
        i for i, t in enumerate(docs["text"])
        if len(t.split()) >= NEAR_DUP_MIN_WORDS
    ]
    picked = rng.sample(long_enough, min(2 * n_plant, len(long_enough)))
    exact_src, near_src = picked[:n_plant], picked[n_plant:]
    rows, pairs = [], {"exact": [], "near": []}
    next_id = len(docs)
    for kind, sources in (("exact", exact_src), ("near", near_src)):
        for src in sources:
            text = docs.at[src, "text"]
            if kind == "near":
                words = text.split(" ")
                pos = rng.randrange(1, len(words) - 1)
                words[pos] = words[pos] + "x"
                text = " ".join(words)
            rows.append(
                {
                    "doc_id": next_id,
                    "url": f"https://copy.example/{kind}/{next_id}",
                    "text": text,
                    "lang": "es",
                }
            )
            pairs[kind].append([src, next_id])
            next_id += 1
    docs = pd.concat([docs, pd.DataFrame(rows)], ignore_index=True)
    docs["doc_id"] = docs["doc_id"].astype("int64")
    return docs, {"exact_pairs": pairs["exact"], "near_pairs": pairs["near"]}
