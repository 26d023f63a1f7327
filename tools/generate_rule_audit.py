"""Audit the session-wide InferFiltersFromGenerate exclusion across EVERY
explode-bearing registered query (round-13 VERDICT item 6: only 14 queries
had captured plans; every other Generate query inherited the exclusion
sight-unseen).

Method: build each query's DataFrame once, then explain it TWICE — once
under the session default (rule excluded) and once with the rule re-enabled
via the runtime conf — and diff the Filter population. The logical plan is
frozen at build time; the optimizer runs at explainString time, so the two
explains are the same query under the two optimizer configurations without
re-executing any fixture machinery.

Classification per Filter that the WITH-RULE plan has and the excluded plan
lacks:
  - condition references a computed array child (lambdafunction/transform/
    filter/sequence/split inside the synthesized size(..)>0) -> the
    duplicated-kernel evaluation the exclusion removes: GOOD to exclude.
  - condition references only plain column tests -> pruning the exclusion
    gives up: flagged LOST_PRUNING for eyeball review.

Usage: python tools/generate_rule_audit.py [--out plans/r14/rule_audit]
                                           [names ...]
Writes <out>/<query>_{excl,incl}.txt for every Generate-bearing query and
prints one JSON line per query + a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

# expression heads that mark a COMPUTED array child inside a synthesized
# filter — evaluating them in a Filter duplicates the generator-child kernel
_COMPUTED = re.compile(
    r"lambdafunction\(|transform\(|filter\(|aggregate\(|sequence\(|"
    r"split\(|zip_with\(|flatten\(|array_repeat\("
)


def _filters(plan: str) -> list[str]:
    """Normalized Filter conditions from a formatted plan: the detail lines
    'Condition : ...' plus scan 'PushedFilters: [...]', with expression ids
    (#123L) stripped so two explains of one query compare equal."""
    out = []
    for ln in plan.splitlines():
        s = ln.strip()
        if s.startswith("Condition : ") or s.startswith("PushedFilters: "):
            out.append(re.sub(r"#\d+L?", "#", s))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=str(REPO / "plans/r14/rule_audit"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.entry_queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("generate_rule_audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    names = args.names or list(QUERIES)
    summary = {"n_generate": 0, "lost_pruning": [], "dup_removed": [], "errors": {}}
    for name in names:
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            # a Dataset memoizes its QueryExecution, so explain twice via a
            # FRESH wrapper Dataset each time (select("*") builds a new
            # QueryExecution over the same logical plan; optimization runs
            # lazily under whatever conf is set when explainString fires)
            spark.conf.set("spark.sql.optimizer.excludedRules", RULE)
            excl = df.select("*")._jdf.queryExecution().explainString(mode)
            if "Generate" not in excl:
                spark.catalog.clearCache()
                continue
            summary["n_generate"] += 1
            spark.conf.set("spark.sql.optimizer.excludedRules", "")
            incl = df.select("*")._jdf.queryExecution().explainString(mode)
            spark.conf.set("spark.sql.optimizer.excludedRules", RULE)

            Path(args.out, f"{name}_excl.txt").write_text(excl)
            Path(args.out, f"{name}_incl.txt").write_text(incl)
            fe, fi = set(_filters(excl)), set(_filters(incl))
            added = sorted(fi - fe)  # filters the rule would synthesize
            removed = sorted(fe - fi)
            computed = [f for f in added if _COMPUTED.search(f)]
            plain = [f for f in added if not _COMPUTED.search(f)]
            rec = {
                "query": name,
                "rule_adds_computed_filters": len(computed),
                "rule_adds_plain_filters": len(plain),
                "excl_only_filters": len(removed),
            }
            if plain:
                rec["plain_filters"] = plain[:4]
                summary["lost_pruning"].append(name)
            if computed:
                summary["dup_removed"].append(name)
            print(json.dumps(rec), flush=True)
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            summary["errors"][name] = f"{type(exc).__name__}: {exc}"[:200]
            for q in spark.streams.active:
                try:
                    q.stop()
                except Exception:
                    pass
        finally:
            # an include-side explain that raised must not leave the rule
            # enabled for the next query's fixture jobs
            spark.conf.set("spark.sql.optimizer.excludedRules", RULE)
            spark.catalog.clearCache()
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
