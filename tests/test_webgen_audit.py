"""Synthetic web table, multimodal plumbing, and audited resumable runs."""

import os

import pytest

from pyspark.sql import functions as F

import spark_schema_guard as ssg
from spark_schema_guard.webgen import WEB_PAGE_SCHEMA, languages, web_pages
from spark_schema_guard.operators.multimodal import (
    attach_media_metadata, extract_features, sample_frames,
)
from spark_schema_guard.audit import AUDIT_COLUMNS, AuditedRun


def test_web_pages_deterministic_and_seeded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    a = web.orderBy("doc_id").limit(20).collect()
    b = web_pages(docs).orderBy("doc_id").limit(20).collect()
    assert a == b  # fully deterministic

    n = web.count()
    stats = web.agg(
        F.sum((F.length("text") == 0).cast("long")).alias("empty_text"),
        F.sum((F.col("lang") == "xx").cast("long")).alias("bad_lang"),
        F.sum(F.col("html").isNull().cast("long")).alias("null_html"),
        F.count_distinct("url").alias("urls"),
    ).collect()[0]
    assert 0 < stats["empty_text"] < n * 0.05
    assert 0 < stats["bad_lang"] < n * 0.03
    assert 0 < stats["null_html"] < n * 0.05
    assert stats["urls"] < n  # planted duplicates
    hot = web.where(F.col("url").contains("hot.example.com")).count()
    assert 0.15 < hot / n < 0.25  # hot-domain skew


def test_web_schema_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    out = plan.apply(web)
    agg = out.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("verdict").cast("long")).alias("ok")).collect()[0]
    assert 0 < agg["ok"] < agg["n"]
    rules = {r["rule"] for r in
             plan.violation_rows(web, keys=["url"]).select("rule").distinct().collect()}
    assert {"minLength", "enum"} <= rules


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs).limit(100)
    with_meta = attach_media_metadata(web, "html", media_type="document")
    metas = with_meta.select("html_meta").where(F.col("html").isNotNull()).collect()
    assert all(m["html_meta"]["size_bytes"] > 0 for m in metas)

    feats = extract_features(web, "doc_id", "html").collect()
    ok = [f for f in feats if f["ok"]]
    bad = [f for f in feats if not f["ok"]]
    assert ok and all(len(f["features"]) == 16 for f in ok)
    assert all(f["error"] == "null payload" for f in bad)

    frames = sample_frames(web, "doc_id", "html", every_n_bytes=64, max_frames=3)
    got = frames.groupBy("doc_id").count().collect()
    assert got and all(1 <= r["count"] <= 3 for r in got)


def test_audited_run_resumes(spark, sf_dir, tmp_path, scans_of):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    input_path = str(tmp_path / "webpages")
    audit_path = str(tmp_path / "audit")
    web_pages(docs).repartition(4).write.parquet(input_path)

    plan = ssg.compile_plan(WEB_PAGE_SCHEMA,
                            spark.read.parquet(input_path).schema)
    first = AuditedRun(spark, plan, input_path, audit_path, run_id="r1").run()
    assert first["units_validated"] == 4
    total_rows = first["rows"]
    assert total_rows == docs.count()

    # second run: everything checkpointed, nothing re-validated — and no
    # job opens an input file (no validation job at all)
    second, scans, files = scans_of(input_path, AuditedRun(
        spark, plan, input_path, audit_path, run_id="r2").run)
    assert second["units_validated"] == 0
    assert second["rows"] == 0
    assert (scans, files) == (0, 0)

    audit = spark.read.parquet(audit_path)
    assert audit.where(F.col("run_id") == "r1").count() == 4
    row = audit.where(F.col("run_id") == "r1").limit(1).collect()[0]
    assert row["rule_counts"] is None or all(
        n > 0 for n in row["rule_counts"].values())

    # a new file appears -> only it is validated, and only it is read:
    # the completed files are pruned when the input is listed
    web_pages(docs.limit(50)).coalesce(1).write.mode("append") \
        .parquet(input_path)
    third, scans, files = scans_of(input_path, AuditedRun(
        spark, plan, input_path, audit_path, run_id="r3").run)
    assert third["units_validated"] == 1
    assert third["rows"] == 50
    assert (scans, files) == (1, 1)


def test_audited_run_violations_and_noop_resume(spark, sf_dir, tmp_path,
                                                scans_of):
    """With a violations location: a first run scans the input twice
    (violation rows, then metrics); a resume with nothing pending scans
    it zero times and appends no violation or audit rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    input_path = str(tmp_path / "webpages")
    audit_path = str(tmp_path / "audit")
    viol_path = str(tmp_path / "violations")
    web_pages(docs).repartition(3).write.parquet(input_path)
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA,
                            spark.read.parquet(input_path).schema)

    first, scans, files = scans_of(input_path, lambda: AuditedRun(
        spark, plan, input_path, audit_path, run_id="r1").run(
            violations_path=viol_path))
    assert first["units_validated"] == 3
    assert (scans, files) == (2, 6)
    n_viol = spark.read.parquet(viol_path).count()
    assert n_viol == first["rows"] - first["valid_rows"] > 0

    second, scans, files = scans_of(input_path, lambda: AuditedRun(
        spark, plan, input_path, audit_path, run_id="r2").run(
            violations_path=viol_path))
    assert second == {"run_id": "r2", "units_validated": 0, "rows": 0,
                      "valid_rows": 0}
    assert (scans, files) == (0, 0)
    assert spark.read.parquet(viol_path).count() == n_viol
    audit = spark.read.parquet(audit_path)
    assert audit.count() == 3
    assert audit.columns == AUDIT_COLUMNS


def test_audit_resume_skips_file_name_with_space_and_percent(spark, tmp_path,
                                                             scans_of):
    """``inputFiles()`` spells a file ``file:///…``, the unit column
    ``file:/…``, both percent-encoded: a name with a space, a ``%`` and
    a quote must still be recognised as completed."""
    input_path = str(tmp_path / "pages")
    spark.range(30).select(F.concat(F.lit("https://x.example/"),
                                    F.col("id")).alias("url")) \
        .repartition(3).write.parquet(input_path)
    parts = sorted(f for f in os.listdir(input_path)
                   if f.endswith(".parquet"))
    os.rename(os.path.join(input_path, parts[0]),
              os.path.join(input_path, "a b%20c%'.parquet"))
    plan = ssg.compile_plan({"type": "object", "required": ["url"]},
                            spark.read.parquet(input_path).schema)
    audit_path = str(tmp_path / "audit")

    first = AuditedRun(spark, plan, input_path, audit_path,
                       run_id="r1").run()
    assert (first["units_validated"], first["rows"]) == (3, 30)
    units = {r["unit"] for r in spark.read.parquet(audit_path).collect()}
    assert any("a%20b%2520c%25" in u for u in units), units

    second, scans, _ = scans_of(input_path, AuditedRun(
        spark, plan, input_path, audit_path, run_id="r2").run)
    assert second["units_validated"] == 0 and scans == 0

    # with one pending file the odd name is pruned at listing, not read
    spark.range(5).select(F.lit("https://y.example/").alias("url")) \
        .coalesce(1).write.mode("append").parquet(input_path)
    third, _, files = scans_of(input_path, AuditedRun(
        spark, plan, input_path, audit_path, run_id="r3").run)
    assert (third["units_validated"], third["rows"], files) == (1, 5, 1)


def test_not_in_predicate_needs_no_quoting(spark):
    from spark_schema_guard.audit import _not_in

    units = ["file:/a'b", "file:/c\\d", "file:/e%20f g", "file:/keep"]
    df = spark.createDataFrame([(u,) for u in units], "u string")
    key = "spark.sql.parser.escapedStringLiterals"
    for legacy in ("false", "true"):
        spark.conf.set(key, legacy)
        try:
            got = [r["u"] for r in
                   df.where(_not_in("u", units[:3])).collect()]
        finally:
            spark.conf.unset(key)
        assert got == ["file:/keep"], legacy


def _three_scan_metrics(applied):
    """The audit metrics as computed before the one-pass aggregation:
    per-unit counts and per-rule counts from two scans, joined."""
    per_unit = applied.groupBy(F.col("__unit").alias("unit")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("verdict").cast("long")).alias("valid_rows"),
        F.sum(F.size("violations")).alias("violation_count"))
    rule_counts = (
        applied.where(~F.col("verdict"))
        .select(F.col("__unit").alias("unit"),
                F.explode("violations").alias("v"))
        .groupBy("unit", F.coalesce(F.col("v.rule"), F.lit("<none>"))
                 .alias("rule"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("unit")
        .agg(F.map_from_entries(F.collect_list(F.struct("rule", "n")))
             .alias("rule_counts")))
    return per_unit.join(rule_counts, "unit", "left")


def _by_unit(df):
    return {r["unit"]: r.asDict() for r in df.collect()}


def test_unit_metrics_match_three_scan_output(spark, sf_dir, tmp_path):
    from spark_schema_guard.audit import _unit_metrics

    viol = "array<struct<name:string,rule:string,message:string>>"
    applied = spark.createDataFrame([
        ("clean", True, []),
        ("clean", True, []),
        ("mixed", True, []),
        ("mixed", False, [("data.a", "minLength", "m"),
                          ("data.b", "enum", "m")]),
        ("mixed", False, [("data.a", "minLength", "m")]),
        ("norule", False, [("data", None, "m"), ("data", None, "m")]),
    ], f"__unit string, verdict boolean, violations {viol}")
    got = _by_unit(_unit_metrics(applied))
    assert got == _by_unit(_three_scan_metrics(applied))
    assert got["clean"]["rule_counts"] is None  # NULL, not {}
    assert got["mixed"] == {"unit": "mixed", "rows": 3, "valid_rows": 1,
                            "violation_count": 3,
                            "rule_counts": {"minLength": 2, "enum": 1}}
    assert got["norule"]["rule_counts"] == {"<none>": 2}
    assert [f.dataType.simpleString()
            for f in _unit_metrics(applied).schema.fields] == [
        "string", "bigint", "bigint", "bigint", "map<string,bigint>"]

    # and on the web table through a real plan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    input_path = str(tmp_path / "webpages")
    web_pages(docs).repartition(4).write.parquet(input_path)
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA,
                            spark.read.parquet(input_path).schema)
    applied = plan.apply(AuditedRun(spark, plan, input_path,
                                    str(tmp_path / "audit")).pending_input())
    got = _by_unit(_unit_metrics(applied))
    assert len(got) == 4
    assert got == _by_unit(_three_scan_metrics(applied))


def test_languages_dim_fk(spark, sf_dir):
    from spark_schema_guard.operators import orphan_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    orphans = orphan_rows(web, languages(spark), "lang", "lang_code")
    got = {r["lang"] for r in orphans.select("lang").distinct().collect()}
    assert got == {"xx"}


def test_pillow_decode_when_importable(spark):
    """Opt-in real-codec path: skips unless Pillow is installed (it is
    not baked into this container).  With Pillow present, pillow_decode
    rides the same mapInPandas plumbing as the deterministic fake."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from spark_schema_guard.operators.multimodal import (
        FEATURE_DIM, extract_features, pillow_decode)

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png)), (2, bytearray(b"no"))],
                               "doc_id long, html binary")
    rows = {r["id"]: r for r in
            extract_features(df, "doc_id", "html",
                             decoder=pillow_decode).collect()}
    assert rows[1]["ok"] and len(rows[1]["features"]) == FEATURE_DIM
    assert rows[2]["ok"] is False and rows[2]["error"]


def test_pillow_decode_absent_raises_not_implemented():
    """Without Pillow the decoder raises the honest NotImplementedError
    (driver-side check — no silent fake substitution)."""
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow installed; the absent-path is not testable")
    except ImportError:
        pass
    from spark_schema_guard.operators.multimodal import pillow_decode
    with pytest.raises(NotImplementedError, match="Pillow"):
        pillow_decode(b"\x89PNG")
