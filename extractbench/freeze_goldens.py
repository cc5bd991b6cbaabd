#!/usr/bin/env python3
"""Freeze a workload's golden digests at the default seed.

    python3 extractbench/freeze_goldens.py --workload pdf_heavy

Generates the workload's inputs at the default seed, computes the digest
of every turn with ``pdf_ocr_spark.oracle``, runs the Spark job once the
way the benchmark does, and writes ``extractbench/goldens/<workload>.json``
only if every output row and lineage row of that run agrees with the
oracle. The goldens then guard changes that alter the shared kernels,
which the oracle cannot catch because it uses them too.
"""

from __future__ import annotations

import argparse
import sys

import run


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    args = p.parse_args()
    sys.path.insert(0, run.ROOT)
    import checks
    import host

    host.become_subreaper()
    run.prepare_work_dir()
    try:
        bench = run.Bench(args.workload, run.DEFAULT_SEED, False, 0)
        bench.make_inputs()
        spark = run.new_session()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        bench.warm_up(spark)
        spark.stop()
        t = bench.trial("freeze", jvm_pid)
        want = len(bench.processed["text"])
        expected = bench.expected_digests(oracle=True)
        bench.check_all(expected)
    finally:
        run.stop_everything()
    if t["failed"] or t["turns"] != want:
        run.log(f"not frozen: {t['failed']} turns differ from the oracle, "
                f"{t['turns']} of {want} committed")
        return 1
    path = checks.golden_path(args.workload)
    checks.save_goldens(path, args.workload, run.DEFAULT_SEED,
                        bench.record["input"]["fingerprint"], expected)
    run.log(f"wrote {path}: {len(expected)} turns")
    return 0


if __name__ == "__main__":
    sys.exit(main())
