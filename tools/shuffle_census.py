"""Plan-only shuffle census over the whole registry.

For every registered query, ANALYZE (never execute) the physical plan
at the given SF and count the operators that dominate cluster cost:
shuffle exchanges, broadcast exchanges, sorts, and the wide-row
red flags (cartesian products, row-Python UDF evals). Writes a
markdown table sorted by shuffle count — the per-query evidence behind
SCALE.md's shuffle-inventory claims, regenerated per round:

    python tools/shuffle_census.py [sf_dir] > SHUFFLES.md

Costs (almost) no job execution: `executedPlan()` runs Catalyst +
strategy selection only (parquet footer reads for schemas); the
exceptions are queries whose BUILDER runs bounded sub-jobs (trained
tokenizers, fixed-round graph trajectories) — census at sf0.001 keeps
those cheap. AQE re-planning at runtime can only LOWER the exchange
count (coalesce / broadcast conversion / skew split), so the static
census is an upper bound on the shuffles a run pays.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def census(plan: str) -> dict[str, int]:
    """Count cost-dominating operators in one formatted plan."""
    counts = {"shuffle": 0, "broadcast": 0, "sort": 0,
              "cartesian": 0, "py_udf": 0, "arrow_udf": 0}
    for raw in plan.splitlines():
        # Tree format: strip the indent/branch prefix to the operator.
        op = raw.lstrip(" +-:*")
        if op.startswith("Exchange "):
            counts["shuffle"] += 1
        elif op.startswith("BroadcastExchange"):
            counts["broadcast"] += 1
        elif op.startswith("Sort "):
            counts["sort"] += 1
        elif op.startswith("CartesianProduct"):
            counts["cartesian"] += 1
        elif op.startswith("BatchEvalPython"):
            counts["py_udf"] += 1
        elif op.startswith("ArrowEvalPython") or op.startswith(
            "MapInPandas"
        ) or op.startswith("FlatMapGroupsInPandas"):
            counts["arrow_udf"] += 1
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as ent
    from speech_data_pipeline_spark.session import get_spark

    spark = get_spark("shuffle_census")
    qs = ent.queries()

    rows = []
    errs = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            errs.append((name, str(e).splitlines()[0][:100]))
            continue
        rows.append((name, census(plan)))

    rows.sort(key=lambda r: (-r[1]["shuffle"], r[0]))
    print("# SHUFFLES — static plan census over the full registry")
    print()
    print(
        f"Generated by `tools/shuffle_census.py` at `{sf_dir}`:"
        " static operator counts per physical plan (plans are"
        " analyzed, not run). `shuffle` = hash/range/round-robin/"
        "single exchanges; `broadcast` = broadcast exchanges (small"
        " side by design); `sort` = executor-local sorts (grouped"
        " windows / SMJ sides); red-flag columns must stay 0 except"
        " documented whitelists (see tests/test_plan_shapes.py —"
        " cartesians are asserted absent registry-wide; Arrow kernels"
        " are the media/ML batch surface, never row-Python). AQE can"
        " only lower the exchange count at runtime, so these are"
        " upper bounds. Reading the table: a shuffle count is COST"
        " only when the exchanged relation is corpus-sized — the"
        " high-count rows are fixed-round trajectories (pagerank/"
        "label-prop/BFS/k-core, tokenizer training) whose per-round"
        " exchanges move BOUNDED aggregate tables (node scores, merge"
        " tables), already sized in SCALE.md's shuffle inventory;"
        " corpus-scale passes in those plans number 1-2."
    )
    print()
    n = len(rows)
    tot = {k: sum(r[1][k] for r in rows) for k in rows[0][1]}
    hist: dict[int, int] = {}
    for _, c in rows:
        hist[c["shuffle"]] = hist.get(c["shuffle"], 0) + 1
    print(
        f"- {n} queries analyzed: {tot['shuffle']} shuffles total"
        f" (mean {tot['shuffle'] / n:.1f}/query),"
        f" {tot['broadcast']} broadcast exchanges,"
        f" {tot['cartesian']} cartesians, {tot['py_udf']} row-Python"
        f" UDFs, {tot['arrow_udf']} Arrow kernel stages."
    )
    print(
        "- Shuffle-count histogram: "
        + ", ".join(
            f"{k} shuffles × {hist[k]}" for k in sorted(hist)
        )
        + "."
    )
    print()
    print("| query | shuffles | broadcasts | sorts | cartesian | pyUDF | arrow |")
    print("|---|---|---|---|---|---|---|")
    for name, c in rows:
        print(
            f"| {name} | {c['shuffle']} | {c['broadcast']} |"
            f" {c['sort']} | {c['cartesian']} | {c['py_udf']} |"
            f" {c['arrow_udf']} |"
        )
    if errs:
        print()
        print("## Analysis errors")
        print()
        for name, e in errs:
            print(f"- {name}: {e}")


if __name__ == "__main__":
    main()
