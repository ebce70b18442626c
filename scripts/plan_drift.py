"""Plan regression check: regenerate explain('formatted') for EVERY declared
driver query and diff it against a baseline dump modulo expression ids
(#123), cached-plan ids, AQE plan_ids, lambda-binder suffixes and the
checkout path of materialized fixtures. Prints per-query OK/DRIFT and a
summary; exits nonzero on any drift. A drifted plan also prints both
sides' plans/lint.lint_plan regexp_replace sites, Arrow Python crossings
and shuffle exchanges.

The default baseline is the committed plans/r13/<q>_after.txt. To judge a
change to the operator layer, dump the parent commit's plans from its own
checkout and compare against that dump, so queries that already drift
from plans/r13 are judged against the parent's own plans:

    python scripts/plan_drift.py --sf SF_DIR --dump PARENT_DUMP      # in the parent checkout
    python scripts/plan_drift.py --sf SF_DIR --baseline PARENT_DUMP

plans/r13 was dumped at sf0.1 with SPARK_GRAFT_CPUS=8; exchange partition
counts follow the core count, so compare at the same setting.

The same run also dumps the ``Pipeline.explain`` of each recipe in RECIPES
(its source pointed at the scale dir's documents table) as
``<recipe>_after.txt``. A recipe is compared only when the baseline holds
its dump, so the recipe-less plans/r13 baseline skips them.

Every query is built with its expression ids starting at a base fixed by
its name (see pin_expr_ids), so a query's plan does not depend on which
queries ran before it in the session.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
CTE_ID = re.compile(r"CTERelationDef \d+|CTERelationRef \d+")
SUBQ = re.compile(r"(Subquery|subquery)#?\d*")
RESULT_ID = re.compile(r"\[id=#?\d+\]")
# pyspark's _create_lambda appends a fresh per-session suffix to binder
# names (x_51); the binder NAME is display-only (references resolve by id)
LAMBDA = re.compile(r"lambda ([a-z]+)_\d+")
RDD_ID = re.compile(r"RDD\[\d+\]")
# fixtures materialized under the checkout (.localdata/...) carry its path
CHECKOUT = re.compile(r"file:\S*?/\.localdata/")


def norm(s: str) -> str:
    s = ID.sub("#", s)
    s = PLAN_ID.sub("plan_id=", s)
    s = CTE_ID.sub(lambda m: m.group(0).split()[0] + " N", s)
    s = SUBQ.sub(lambda m: m.group(0).rstrip("0123456789#"), s)
    s = RESULT_ID.sub("[id=#]", s)
    s = LAMBDA.sub(r"lambda \1", s)
    s = RDD_ID.sub("RDD[N]", s)
    s = CHECKOUT.sub("file:<checkout>/.localdata/", s)
    return s


def pin_expr_ids(spark, name: str) -> None:
    """Restart Catalyst's JVM-global expression-id counter at a base fixed
    by the query name. Some plan shapes depend on the id VALUES, not just
    their order: RewriteDistinctAggregates groups distinct aggregates in a
    hash map keyed on expressions whose hashes include expression ids, so
    its Expand lists them in an id-dependent order — and a session shares
    one counter, so every earlier query shifted the ids of the later ones.
    Each name owns a disjoint 2^24-id range above 2^40 (far past anything a
    session allocates on its own), so attributes a query reuses from an
    earlier one (temp views, memoized frames) can never collide with the
    ids it allocates.

    The counter is a private AtomicLong that py4j would hand back as a
    plain int, so the set runs as one JVM-side method handle:
    ``curId.set(base)``."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName
    field = cls("org.apache.spark.sql.catalyst.expressions.NamedExpression$").getDeclaredField("curId")
    field.setAccessible(True)
    mh = jvm.java.lang.invoke.MethodHandles
    lookup = mh.lookup()
    set_type = jvm.java.lang.invoke.MethodType.methodType(jvm.java.lang.Void.TYPE, jvm.java.lang.Long.TYPE)
    setter = lookup.findVirtual(cls("java.util.concurrent.atomic.AtomicLong"), "set", set_type)
    args = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, 1)
    args[0] = (1 << 40) + (id_slot(name) << 24)
    mh.collectArguments(setter, 0, lookup.unreflectGetter(field)).invokeWithArguments(args)


# plans/lint.lint_plan counts printed for both sides of a drifted plan
LINT_COUNTS = ("regexp_replace_sites", "arrow_python_crossings", "shuffle_exchanges")

# recipes whose Pipeline plans are dumped next to the driver queries
RECIPES = ("fineweb_style_recipe", "c4_style_recipe", "gopher_style_recipe")


def recipe_plan(spark, name: str, sf: str) -> str:
    """Formatted ``Pipeline.explain`` of configs/<name>.yaml, read over
    ``sf``'s documents table."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    cfg = PipelineConfig.from_yaml(os.path.join(REPO, "configs", f"{name}.yaml"))
    cfg.source.path = os.path.join(sf, "documents.parquet")
    return Pipeline(cfg).explain(spark)


def id_slot(name: str) -> int:
    return zlib.crc32(name.encode()) & ((1 << 22) - 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf_env, required=sf_env is None, help="scale dir (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--baseline", default=os.path.join(REPO, "plans", "r13"))
    ap.add_argument("--dump", default=None, help="write <q>_after.txt for every query here instead of diffing")
    args = ap.parse_args()

    from mega_data_factory_spark.session import get_spark

    spark = get_spark("plan-drift", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    import __spark_entry__ as e
    from mega_data_factory_spark.plans.lint import lint_plan

    jvm = spark.sparkContext._jvm
    queries = e.queries()
    names = [*queries, *RECIPES]
    if len({id_slot(name) for name in names}) != len(names):
        sys.exit("two plan names share an expression-id range; widen id_slot")
    drift = []
    for name in names:
        path = os.path.join(args.baseline, f"{name}_after.txt")
        if name in RECIPES and not args.dump and not os.path.exists(path):
            print(f"{name:34s} SKIPPED (no baseline dump)")
            continue
        pin_expr_ids(spark, name)
        if name in RECIPES:
            now = recipe_plan(spark, name, args.sf)
        else:
            now = jvm.PythonSQLUtils.explainString(queries[name](spark, args.sf)._jdf.queryExecution(), "formatted")
        if args.dump:
            os.makedirs(args.dump, exist_ok=True)
            with open(os.path.join(args.dump, f"{name}_after.txt"), "w") as f:
                f.write(now)
            print(f"{name:34s} dumped")
            continue
        if not os.path.exists(path):
            print(f"{name:34s} NO_FILE")
            drift.append(name)
            continue
        with open(path) as f:
            committed = f.read()
        a, b = norm(now).strip(), norm(committed).strip()
        if a == b:
            print(f"{name:34s} OK")
            continue
        print(f"{name:34s} DRIFT")
        # the evaluation counts to check first: a drift that adds
        # no regex site, Python crossing or exchange adds no evaluations
        now_n, base_n = (lint_plan(p)["counts"] for p in (now, committed))
        print("  lint now/baseline: " + ", ".join(f"{k} {now_n[k]}/{base_n[k]}" for k in LINT_COUNTS))
        la, lb = a.splitlines(), b.splitlines()
        shown = 0
        for x, y in zip(la, lb):
            if x != y and shown < 6:
                print(f"  now:      {x[:150]}")
                print(f"  baseline: {y[:150]}")
                shown += 1
        if len(la) != len(lb):
            print(f"  line counts differ: now {len(la)} vs baseline {len(lb)}")
        drift.append(name)
    if not args.dump:
        print(f"\n{len(drift)} drifted of {len(names)}: {drift}")
        sys.exit(1 if drift else 0)


if __name__ == "__main__":
    main()
