from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
REFERENCE_DIR = "/root/reference"
TESTDATA_SF001 = os.environ.get("NLDS_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ner_linking_demo_spark.session import default_parallelism, get_spark

    # one task slot per CPU the box grants (SPARK_GRAFT_CPUS): AQE sizes
    # the page rebalance from the session's parallelism
    s = get_spark(
        app_name="nlds-tests",
        master=f"local[{default_parallelism()}]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clinical_case() -> str:
    with open(os.path.join(DATA_DIR, "clinical_case.txt")) as f:
        return f.read()


@pytest.fixture(scope="session")
def gold_mentions() -> pd.DataFrame:
    df = pd.read_csv(os.path.join(DATA_DIR, "gold_mentions.tsv"), sep="\t")
    return df


@pytest.fixture(scope="session")
def golden_gazetteer(gold_mentions) -> pd.DataFrame:
    """Synthetic gazetteer seeded with the clinical-case golden terms: each
    gold span becomes a gazetteer term under its gold label with its first
    gold code (reference `server/data/mentions.tsv` code lists)."""
    from ner_linking_demo_spark.sources.fixtures import gen_gazetteer

    extra: dict[str, list[tuple[str, str]]] = {"disease": [], "procedure": []}
    for r in gold_mentions.itertuples():
        first_code = str(r.code).strip("[]").split(",")[0].strip()
        extra[r.label.lower()].append((first_code, r.span))
    return gen_gazetteer(n_codes=40, extra_terms=extra)


@pytest.fixture(scope="session")
def golden_pages(clinical_case, golden_gazetteer) -> pd.DataFrame:
    from ner_linking_demo_spark.sources.fixtures import gen_pages

    return gen_pages(
        n_pages=40,
        gazetteer=golden_gazetteer,
        giant_every=17,
        extra_texts=[clinical_case],
    )
