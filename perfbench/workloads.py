"""The benchmark's workloads: one timed job each, and the checks of its
outputs against the generator's independent expectations.

A job calls only public entry points of the program (``compile_plan``,
``AuditedRun.run``, ``validate_json_column``, ``operators.*``) and wraps
each call in a span when tracing is on.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

import gen

# The web-page schema the audit validates.  A copy of the program's
# ``webgen.WEB_PAGE_SCHEMA``, kept here so that the planted defects in
# ``gen.py`` and their expected rule counts cannot drift from it.
WEB_PAGE_SCHEMA = {
    "type": "object",
    "required": ["url", "text", "lang", "warc_ts"],
    "properties": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://",
                "minLength": 10, "maxLength": 2048},
        "warc_ts": {"type": "string", "format": "date-time"},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": gen.LANGS},
    },
}

PROFILE_COLUMNS = ["url", "text", "lang", "warc_ts", "doc_id"]
KS_TOLERANCE = 0.02      # grid KS (256 bins) against the exact statistic
DISTINCT_TOLERANCE = 0.2  # HLL++ at rsd 0.05, four standard deviations


def _close(got, want, rel=1e-9):
    return abs(got - want) <= rel * max(1.0, abs(want))


def _expect_eq(errors, what, got, want):
    if got != want:
        errors.append(f"{what}: got {got!r}, expected {want!r}")


def parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class Workload:
    """``datasets`` maps each generated dataset to its row count;
    ``docs`` is the number of input rows one job processes."""

    name = ""
    datasets: dict[str, int] = {}

    def __init__(self, spark, tracer, inputs: dict):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs  # dataset -> (data_dir, expect)
        self.frames = []      # validation frames of the last job (tracing)

    @property
    def docs(self) -> int:
        return sum(self.datasets.values())

    def register(self):
        """Input registration, timed as part of set-up."""
        raise NotImplementedError

    def job(self, it: int, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError


class WebAudit(Workload):
    """``compile_plan`` + ``AuditedRun.run`` writing violation and audit
    rows + a resume run that must validate nothing, then the table
    constraint operators over the same table."""

    name = "web_audit"
    datasets = {"web": 20_000}

    def register(self):
        from pyspark.sql import functions as F

        data_dir, _ = self.inputs["web"]
        self.data_dir = data_dir
        self.spark.read.parquet(data_dir).schema
        self.dim = self.spark.createDataFrame(
            [(lang,) for lang in gen.LANGS], "lang_code string")
        self.drift_group = F.col("source") == gen.DRIFT_SOURCE

    def job(self, it, out_dir):
        import spark_schema_guard as ssg
        from spark_schema_guard import operators as ops
        from spark_schema_guard.audit import AuditedRun

        span, spark = self.tracer.span, self.spark
        audit_path = os.path.join(out_dir, "audit")
        viol_path = os.path.join(out_dir, "violations")
        df = spark.read.parquet(self.data_dir)
        with span("columnar.compile") as rec:
            plan = ssg.compile_plan(WEB_PAGE_SCHEMA, df.schema)
            if rec is not None:
                rec["rules"] = len(plan.rules)
        self.plan = plan
        with span("audit.run") as rec:
            first = AuditedRun(spark, plan, self.data_dir, audit_path,
                               run_id=f"it{it}").run(
                                   violations_path=viol_path)
            if rec is not None:
                rec["units"] = first["units_validated"]
        with span("audit.resume") as rec:
            resume = AuditedRun(spark, plan, self.data_dir, audit_path,
                                run_id=f"it{it}-resume").run(
                                    violations_path=viol_path)
            if rec is not None:
                rec["units"] = resume["units_validated"]
        with span("ops.uniqueness"):
            uniq = ops.uniqueness_report(df, "url").collect()[0].asDict()
        with span("ops.orphans"):
            orphans = ops.orphan_rows(df, self.dim, "lang",
                                      "lang_code").count()
        with span("ops.chisq"):
            chi = ops.chi_square_drift(df, "lang", "source").collect()[0]
        with span("ops.ks"):
            ks = ops.ks_drift(df, "warc_ts", self.drift_group).collect()[0]
        with span("ops.profile"):
            profile = {r["column"]: r.asDict() for r in
                       ops.column_profile(df, PROFILE_COLUMNS).collect()}
        return {"first": first, "resume": resume, "audit_path": audit_path,
                "viol_path": viol_path, "run_id": f"it{it}", "uniq": uniq,
                "orphans": orphans, "chi": chi.asDict(), "ks": ks.asDict(),
                "profile": profile}

    def probe_frames(self, out_dir):
        """The validation frame of an audit run, for Catalyst phases."""
        from spark_schema_guard.audit import AuditedRun

        run = AuditedRun(self.spark, self.plan, self.data_dir,
                         os.path.join(out_dir, "probe-audit"))
        return [self.plan.apply(run.pending_input())]

    def check(self, out):
        exp = self.inputs["web"][1]
        err: list[str] = []
        first, resume = out["first"], out["resume"]
        _expect_eq(err, "audit units", first["units_validated"], exp["units"])
        _expect_eq(err, "audit rows", first["rows"], exp["rows"])
        _expect_eq(err, "audit valid_rows", first["valid_rows"],
                   exp["valid_rows"])
        _expect_eq(err, "resume units_validated",
                   resume["units_validated"], 0)
        audit = pq.read_table(out["audit_path"]).to_pylist()
        mine = [r for r in audit if r["run_id"] == out["run_id"]]
        _expect_eq(err, "audit table units", len(mine), exp["units"])
        _expect_eq(err, "audit violation_count",
                   sum(r["violation_count"] for r in mine),
                   exp["violation_count"])
        rules: dict[str, int] = {}
        for r in mine:
            for rule, n in r["rule_counts"] or []:
                rules[rule] = rules.get(rule, 0) + n
        _expect_eq(err, "audit rule_counts", rules, exp["rule_counts"])
        _expect_eq(err, "violation rows", parquet_rows(out["viol_path"]),
                   exp["rows"] - exp["valid_rows"])
        _expect_eq(err, "uniqueness_report", out["uniq"], exp["uniqueness"])
        _expect_eq(err, "orphan_rows", out["orphans"], exp["orphan_rows"])
        chi, ks = out["chi"], out["ks"]
        if not _close(chi["statistic"], exp["chi_square"]["statistic"]):
            err.append(f"chi-square statistic {chi['statistic']} != "
                       f"{exp['chi_square']['statistic']}")
        _expect_eq(err, "chi-square dof", chi["dof"], exp["chi_square"]["dof"])
        if abs(ks["statistic"] - exp["ks"]["statistic"]) > KS_TOLERANCE:
            err.append(f"KS statistic {ks['statistic']} vs exact "
                       f"{exp['ks']['statistic']}")
        _expect_eq(err, "KS sizes", (ks["n_left"], ks["n_right"]),
                   (exp["ks"]["n_left"], exp["ks"]["n_right"]))
        prof = out["profile"]
        for col in PROFILE_COLUMNS:
            _expect_eq(err, f"profile {col} count", prof[col]["count"],
                       exp["rows"])
        _expect_eq(err, "profile text nulls", prof["text"]["nulls"],
                   exp["profile"]["text_nulls"])
        _expect_eq(err, "profile lang distinct", prof["lang"]["distinct"],
                   exp["profile"]["lang_distinct"])
        _expect_eq(err, "profile doc_id min/max",
                   (prof["doc_id"]["min"], prof["doc_id"]["max"]),
                   (str(exp["profile"]["doc_id_min"]),
                    str(exp["profile"]["doc_id_max"])))
        if abs(prof["doc_id"]["distinct"] - exp["rows"]) > (
                DISTINCT_TOLERANCE * exp["rows"]):
            err.append(f"profile doc_id distinct {prof['doc_id']['distinct']}"
                       f" vs {exp['rows']}")
        return err


class JsonColumns(Workload):
    """``validate_json_column(engine="auto")`` over two JSON string
    columns, aggregating verdicts and violation counts; writes nothing.

    ``events`` (nested objects, arrays, ``enum``, ``pattern``, ``oneOf``,
    ``additionalProperties: false``) takes the columnar variant-SQL path;
    ``metaschema`` (the recursive draft-04 metaschema) fails its columnar
    attempt and falls back to the row-check closures in an Arrow pandas
    UDF, the only place where Python workers do the work."""

    name = "json_columns"
    datasets = {"events": 40_000, "metaschema": 20_000}

    def register(self):
        self.columns = []
        for dataset, schema in (("events", gen.EVENTS_SCHEMA),
                                ("metaschema", gen.draft04_metaschema())):
            data_dir, _ = self.inputs[dataset]
            self.spark.read.parquet(data_dir).schema
            self.columns.append((dataset, data_dir, schema))

    def job(self, it, out_dir):
        from pyspark.sql import functions as F
        from spark_schema_guard.jsoncol import validate_json_column

        out, frames = {}, []
        for dataset, data_dir, schema in self.columns:
            df = self.spark.read.parquet(data_dir)
            with self.tracer.span("jsoncol.build", dataset=dataset):
                checked = validate_json_column(df, "doc", schema,
                                               engine="auto")
            agg = checked.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("verdict").cast("long")).alias("valid"),
                F.sum(F.size("violations")).alias("violations"))
            with self.tracer.span("spark.collect", dataset=dataset):
                out[dataset] = agg.collect()[0].asDict()
            frames.append(agg)
        self.frames = frames
        return out

    def check(self, out):
        err: list[str] = []
        for dataset, _, _ in self.columns:
            exp, got = self.inputs[dataset][1], out[dataset]
            _expect_eq(err, f"{dataset} rows", got["rows"], exp["rows"])
            _expect_eq(err, f"{dataset} valid rows (jsonschema)",
                       got["valid"], exp["valid_rows"])
            if got["violations"] < got["rows"] - got["valid"]:
                err.append(f"{dataset}: {got['violations']} violations for "
                           f"{got['rows'] - got['valid']} invalid rows")
        return err


WORKLOADS = {w.name: w for w in (WebAudit, JsonColumns)}
