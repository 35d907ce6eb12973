"""Physical-plan audit: prints .explain("formatted") for the headline
queries and flags plan smells (missing pushdown, python in hot path,
unexpected shuffles).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
       python tools/plan_audit.py --plans [sf_dir] [query ...]
       python tools/plan_audit.py --codegen [sf_dir] [query ...]

``--plans`` prints each query's normalized optimized logical plan
instead: expression ids (``#123``) renumbered by first appearance and
lambda-variable names (``x_17`` from the Column API, ``k`` from SQL
text) all written ``x``. Two checkouts that build the same
plans print the same text, so a rewrite of the expression-building
code is checked by running the mode in each checkout and diffing:

    (cd old && python /path/to/tools/plan_audit.py --plans sf > /tmp/a)
    (cd new && python /path/to/tools/plan_audit.py --plans sf > /tmp/b)
    diff /tmp/a /tmp/b

``--codegen`` is a census of the code Spark generates: it runs the
list of queries (every declared one by default) twice, each run a
``noop`` write of a freshly built frame, and prints per query the
classes compiled on its first run, the classes recompiled on its
second run (``CodegenMetrics`` compile count) and the largest generated
method in bytes, then the totals. The method size is read with
``debug.codegenStringSeq`` after a third run of the query's own
executed plan, so adaptive plans are final. A second run recompiles
when the first run's classes were evicted from the codegen cache
(``session.CODEGEN_CACHE_ENTRIES``) or its adaptive plan took another
shape; a method over 8,000 bytes is never JIT-compiled (HotSpot's
``DontCompileHugeMethods``).

The engine is imported from the current directory. ``tagged_frame``
names the flagship's routed frame (``flagship.tagged_frame``).
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from opentelemetry_log_collection_spark.session import get_spark  # noqa: E402

AUDIT = [
    "regex_tomcat",
    "severity_http",
    "syslog_rfc3164",
    "syslog_rfc5424",
    "uri_request",
    "lang_id",
    "routed_rows",
    "router_counts",
    "recombine_conv",
    "enrich_roles",
    "dedup_exact",
    "minhash_pairs",
    "embed_topk",
    "ann_lsh",
    "ann_ivf",
    "token_stats",
]


#: default query list of --plans: every query whose plan is built by
#: the column stages, plus the flagship's routed frame
PLANS = [
    "regex_tomcat", "json_signup", "kv_click", "csv_purchase", "csv_headerattr",
    "severity_http", "time_access", "time_epoch", "time_gotime", "uri_request",
    "syslog_rfc3164", "syslog_rfc5424", "trace_ids", "scope_name", "flatten",
    "retain_body", "transform_restructure", "filter_drop", "enrich_roles",
    "routed_rows", "recombine_conv", "recombine_newest", "tagged_frame",
]

_LAMBDA_VAR = re.compile(r"\blambda \w+#")


def normalized_plan(df) -> str:
    """The optimized logical plan with expression ids renumbered by
    first appearance and every lambda variable named ``x`` — each
    variable keeps its own expression id, so the name carries nothing
    a plan comparison needs (the Column API invents ``x_17``, SQL text
    keeps the name it was written with)."""
    plan = _LAMBDA_VAR.sub("lambda x#", df._jdf.queryExecution().optimizedPlan().toString())
    ids: dict[str, str] = {}

    def renumber(m: re.Match) -> str:
        return "#" + ids.setdefault(m.group(1), str(len(ids)))

    return re.sub(r"#(\d+)", renumber, plan)


def dump_plans(spark, sf_dir: str, names: list[str]) -> None:
    from opentelemetry_log_collection_spark.flagship import tagged_frame

    qs = E.queries()
    for name in names:
        df = tagged_frame(spark, sf_dir) if name == "tagged_frame" else qs[name](spark, sf_dir)
        print(f"===== {name} =====")
        print(normalized_plan(df))


def compiled(spark) -> int:
    """Janino compiles so far in this JVM (local mode: driver and
    executors share it)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def max_method_bytes(spark, df) -> int:
    """Run ``df``'s executed plan, then return the largest method of
    its generated code."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package")
    stats = debug.codegenStringSeq(plan)
    return max((stats.apply(i)._3().maxMethodCodeSize() for i in range(stats.size())), default=0)


def codegen_census(spark, sf_dir: str, names: list[str]) -> None:
    qs = E.queries()
    runs: dict[str, list[int]] = {n: [] for n in names}
    for _ in range(2):
        for name in names:
            before = compiled(spark)
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[name].append(compiled(spark) - before)
    print(f"{'query':<24} {'first':>6} {'second':>6} {'max_method_B':>12}")
    for name in names:
        first, second = runs[name]
        print(f"{name:<24} {first:>6} {second:>6} {max_method_bytes(spark, qs[name](spark, sf_dir)):>12}")
    print(f"{'TOTAL':<24} {sum(r[0] for r in runs.values()):>6} {sum(r[1] for r in runs.values()):>6}")


def audit_one(name: str, df) -> list[str]:
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    smells = []
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_python = len(re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", plan))
    n_codegen = len(re.findall(r"WholeStageCodegen", plan))
    scans = re.findall(r"ReadSchema: [^\n]+", plan)
    pushed = re.findall(r"PushedFilters: [^\n]+", plan)
    print(f"\n===== {name} =====")
    print(f"exchanges={n_exchange} python_nodes={n_python} codegen_spans={n_codegen}")
    for s in scans[:4]:
        print(" ", s[:160])
    for p in pushed[:4]:
        print(" ", p[:160])
    # mapInPandas is the DESIGN for multimodal decode; everything else
    # (incl. syslog/uri/lang_id since their builtin rewrites) must be
    # python-free
    if n_python and name not in ("media_features", "media_frames"):
        smells.append(f"{name}: python node(s) in plan ({n_python})")
    if "full" in " ".join(sys.argv):
        print(plan)
    return smells


def main() -> None:
    mode = next((a for a in ("--plans", "--codegen") if a in sys.argv), None)
    if mode:
        sys.argv.remove(mode)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = [a for a in sys.argv[2:] if a != "full"]
    spark = get_spark("local[4]", shuffle_partitions=4, app_name="plan-audit")
    if mode == "--plans":
        dump_plans(spark, sf_dir, only or PLANS)
        return
    if mode == "--codegen":
        codegen_census(spark, sf_dir, only or list(E.queries()))
        return
    qs = E.queries()
    smells: list[str] = []
    for name in (only or AUDIT):
        smells += audit_one(name, qs[name](spark, sf_dir))
    print("\nSMELLS:" if smells else "\nNO SMELLS")
    for s in smells:
        print(" -", s)


if __name__ == "__main__":
    main()
