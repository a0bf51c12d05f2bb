"""The extraction sink's write plan: ``run_extraction`` builds the
distributed mega branch only when some document reaches its threshold,
and the output stays byte-identical to ``golden.golden_row`` either
way."""

from win64_local_ocr_tool_spark import staged
from win64_local_ocr_tool_spark.corpus import gen_row
from win64_local_ocr_tool_spark.golden import golden_row
from win64_local_ocr_tool_spark.operators.extract import EXTRACTED_SCHEMA
from win64_local_ocr_tool_spark.pipeline import run_extraction
from win64_local_ocr_tool_spark.sources import read_documents

MEGA_I = 997  # first mega row in the corpus (~130 KB)
MEGA_BYTES = 65536


def _run(spark, monkeypatch, tmp_path, ids):
    """Write ``gen_row(i)`` for ``ids`` as a documents table, run the
    extraction over it, and return (write plans, output rows by url)."""
    docs_dir = str(tmp_path / "docs")
    rows = [gen_row(i) for i in ids]
    spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary"
    ).write.parquet(docs_dir)

    plans = []
    merge = staged.merge_by_key

    def capture(df, target, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return merge(df, target, *args, **kwargs)

    monkeypatch.setattr(staged, "merge_by_key", capture)
    out_dir = str(tmp_path / "out")
    stats = run_extraction(
        spark, read_documents(spark, docs_dir), out_dir=out_dir,
        n_buckets=8, mega_bytes=MEGA_BYTES,
    )
    assert stats["n_docs"] == len(ids)
    out = staged.read_stage(
        spark, out_dir, EXTRACTED_SCHEMA + ", partition_key int"
    )
    return plans, {r["url"]: r for r in out.collect()}


def _assert_golden(got, ids):
    assert len(got) == len(ids)
    for i in ids:
        want = golden_row(i)
        r = got[want["url"]]
        assert r["extracted_text"] == want["extracted_text"]
        assert [s.asDict() for s in r["spans"]] == want["spans"]
        assert (r["lang"], r["status"]) == (want["lang"], want["status"])


def test_write_plan_drops_empty_mega_branch(spark, monkeypatch, tmp_path):
    """No document at/over ``mega_bytes``: the write plan is one html
    scan -> the extraction mapInPandas, with no chunker, no second scan
    and no Exchange below the extraction."""
    ids = list(range(40))
    assert all(len(gen_row(i)["html"]) < MEGA_BYTES for i in ids)
    plans, got = _run(spark, monkeypatch, tmp_path, ids)
    (plan,) = plans
    assert plan.count("MapInPandas") == 1, plan
    assert "extract_batches" in plan and "tokenize_chunks" not in plan
    assert plan.count("FileScan") == 1, plan
    assert "Exchange" not in plan, plan
    _assert_golden(got, ids)


def test_write_plan_keeps_mega_branch_for_planted_doc(
    spark, monkeypatch, tmp_path
):
    """A planted mega document still takes the distributed chunk path,
    and its output equals the single-process extractor's."""
    ids = list(range(20)) + [MEGA_I]
    assert len(gen_row(MEGA_I)["html"]) >= MEGA_BYTES
    plans, got = _run(spark, monkeypatch, tmp_path, ids)
    (plan,) = plans
    assert "tokenize_chunks" in plan and "Exchange" in plan, plan
    assert plan.count("FileScan") == 2, plan
    _assert_golden(got, ids)
