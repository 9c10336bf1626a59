"""Metadata enrichment and search over literal papers/chunks frames."""

import pytest

from pyspark_codesearch.pipeline import enrich_with_metadata
from pyspark_codesearch.search import SearchService

TOPICS = ["transformer attention", "graph networks", "query optimization"] * 3


@pytest.fixture(scope="module")
def corpus(spark):
    """(papers, chunks): nine papers of two chunks each, three per topic."""
    papers, chunks = [], []
    for i, topic in enumerate(TOPICS):
        pid, title = f"23{i:02d}.1000{i}", f"Paper {i} on {topic}"
        papers.append((pid, title, f"We study {topic} carefully.", 2))
        for j, text in enumerate(
            [f"{title}. We study {topic} carefully.",
             f"Sentences about {topic} with details and measurements."]
        ):
            chunks.append((f"{pid}_chunk_{j}", pid, j, text, title))
    return (
        spark.createDataFrame(
            papers, "paper_id string, title string, abstract string, total_chunks long"
        ),
        spark.createDataFrame(
            chunks,
            "doc_id string, paper_id string, chunk_index int, chunk_text string, title string",
        ),
    )


def test_enrich_with_metadata_coalesce(spark, corpus):
    """J1 (reference ingest_papers.py:72-129): meta value preferred, regex-
    extracted value is the fallback when the meta row OR field is missing."""
    papers, _ = corpus
    meta = spark.createDataFrame(
        [
            ("2300.10000", "Meta Title 0", None),          # field fallback: abstract
            ("2301.10001", None, "Meta abstract 1"),       # field fallback: title
            # 2302.10002 has NO meta row at all: row fallback
        ],
        "paper_id string, title string, abstract string",
    )
    out = {
        r["paper_id"]: r
        for r in enrich_with_metadata(papers, meta, fields=("title", "abstract")).collect()
    }
    assert out["2300.10000"]["title"] == "Meta Title 0"
    assert out["2300.10000"]["abstract"] == "We study transformer attention carefully."
    assert out["2301.10001"]["title"] == "Paper 1 on graph networks"
    assert out["2301.10001"]["abstract"] == "Meta abstract 1"
    assert out["2302.10002"]["title"] == "Paper 2 on query optimization"
    # the join must broadcast the meta dimension (no shuffle of content)
    plan = enrich_with_metadata(papers, meta, fields=("title",))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_search_over_ingested(spark, corpus):
    papers, chunks = corpus
    svc = SearchService(spark, papers.cache(), chunks.cache())
    got = svc.search("transformer attention", 5, normalize=False).collect()
    assert len(got) == 3  # three transformer papers
    assert all("transformer" in r["title"] for r in got)
    details = svc.get_paper_details(got[0]["paper_id"]).collect()[0]
    assert details["n_chunks"] == details["total_chunks"]
