"""Regenerate perfbench/expected.json: the row count and content digest
of every key the graph_fixpoint workload runs, on the fixture it reads.

A digest is recorded only after the key's output, read back to the
driver, matches its DuckDB oracle exactly (tools/verify_local.compare);
keys without an oracle record their row count. The benchmark then
checks each timed operation's observed digest against this file.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from pyspark.sql import Observation

    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.session import get_spark
    from perfbench.workloads import GRAPH_DATA, GRAPH_KEYS, digest
    from tools.verify_local import compare, duck_con

    specs = registry.load_all()
    spark = get_spark("perfbench-expected")
    con = duck_con(GRAPH_DATA)
    out: dict[str, dict] = {}
    bad = 0
    for key in GRAPH_KEYS:
        spec = specs[key]
        df = spec.builder(spark, GRAPH_DATA)
        obs = Observation()
        df.observe(obs, *digest(df)).write.format("noop").mode("overwrite").save()
        d = obs.get
        if spec.oracle is not None:
            problems = compare(key, spec.builder(spark, GRAPH_DATA).toPandas(), con.sql(spec.oracle).df())
            if problems:
                print(f"FAIL {key}: {problems}", file=sys.stderr)
                bad += 1
                continue
        out[key] = {"rows": d["rows"], "hash": d["hash"], "oracle": spec.oracle is not None}
        print(f"{key}: {out[key]}", file=sys.stderr)
    if bad:
        print(f"{bad} keys disagree with their oracle; expected.json not written", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
