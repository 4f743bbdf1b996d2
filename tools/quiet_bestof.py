"""Quiet-window best-of-5 protocol runner (BASELINE.md protocol,
VERDICT r12 #4 / r13 #3,#6): fresh session, the bench warmups, then per
query 5 warm attempts with the micro spark calib adjacent to EVERY
attempt — the artifact carries the in-run host-speed track so a noisy
attempt self-adjudicates. Each attempt runs in its own query scope,
exactly as bench.py's run_once does, so attempt 2+ never reads a prior
attempt's persisted tables.

Usage: python tools/quiet_bestof.py name1,name2 [out.json]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    _cpu_calibration,
    _micro_spark_calibration,
    _spark_calibration,
)


def main() -> None:
    names = sys.argv[1].split(",")
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from mopso_engine.session import build_session

    spark = build_session(
        master=f"local[{cpus}]", app_name="mopso-engine-quiet-bestof"
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    spark.range(1000).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    from mopso_engine.scope import query_scope

    _cpu_calibration(), _spark_calibration(spark), _micro_spark_calibration(spark)
    res: dict = {
        "sf_dir": sf_dir,
        "cpu_calib": _cpu_calibration(),
        "spark_calib": _spark_calibration(spark),
        "queries": {},
    }
    qs = entry_mod.queries()
    for name in names:
        attempts, calibs = [], []
        for _ in range(5):
            calibs.append(_micro_spark_calibration(spark))
            t0 = time.time()
            with query_scope():
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                attempts.append(round(time.time() - t0, 3))
        calibs.append(_micro_spark_calibration(spark))
        res["queries"][name] = {
            "attempts": attempts,
            "best": min(attempts),
            "micro_calibs": calibs,
        }
        print(f"# {name}: best {min(attempts)} attempts {attempts} "
              f"calibs {calibs}", file=sys.stderr)
    res["spark_calib_post"] = _spark_calibration(spark)
    res["cpu_calib_post"] = _cpu_calibration()
    line = json.dumps(res, separators=(",", ":"))
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
