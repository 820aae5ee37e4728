"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks that
- BENCHMARK.json declares exactly the metrics the harness emits, with the
  same units, and every declared metric is emitted by a run of each
  workload (end-to-end without tracing, per-layer with it);
- the correctness gate passes the program's real output and rejects a
  corrupted one on every workload: one flipped character in one
  document's text, one normal document flagged guard-tripped, and on
  crawl_ingest one committed row removed from the table.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {
    "page_scan": {"docs": 8},
    "neural_ocr": {"docs": 4},
    "crawl_ingest": {"files": 2, "docs_per_file": 6},
}


def _flip(text: str) -> str:
    i = len(text) // 2
    return text[:i] + ("x" if text[i:i + 1] != "x" else "y") + text[i + 1:]


def check_spec(failures: list[str]) -> None:
    from perfbench.harness import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != emitted:
            failures.append(f"BENCHMARK.json {key} differs from the harness: "
                            f"declared only {sorted(set(declared) - set(emitted))}, "
                            f"emitted only {sorted(set(emitted) - set(declared))}, "
                            f"unit mismatches {[n for n in declared if n in emitted and declared[n] != emitted[n]]}")
    names = {w["name"] for w in spec["workloads"]}
    if names != set(TINY):
        failures.append(f"BENCHMARK.json workloads {sorted(names)} != {sorted(TINY)}")


def gate_rejects_corruption(spark, wl, jobs, failures: list[str]) -> None:
    rows = wl.output_rows(spark, 0, jobs[0]["out"])
    if wl.check(spark, 0, rows).errors:
        failures.append(f"{wl.name}: the gate rejects the program's real output")
    i = next(i for i, r in enumerate(rows) if r[1] and r[0] not in wl.guard_ok)
    flipped, tripped = list(rows), list(rows)
    flipped[i] = (rows[i][0], _flip(rows[i][1])) + tuple(rows[i][2:])
    # a page that fails for any reason but its size comes back flagged
    tripped[i] = (rows[i][0], "", True, 1.0) + tuple(rows[i][4:])
    cases = [("one flipped character", flipped),
             ("a guard-tripped normal page", tripped)]
    if wl.name == "crawl_ingest":
        from kraken_spark.sources import icetable

        out, _ = wl._tables("job0")
        icetable.delete_where(spark, out, f"url = '{rows[i][0]}'")
        cases.append(("a missing committed row", wl.output_rows(spark, 0, None)))
    for what, bad in cases:
        errors = wl.check(spark, 0, bad).errors
        if not errors:
            failures.append(f"{wl.name}: the gate accepts {what}")
        else:
            print(f"perfbench selftest: {wl.name}: {what} rejected: {errors[0]}")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness

    failures: list[str] = []
    check_spec(failures)
    for name, sizes in TINY.items():
        result = harness.run(
            ROOT, name, seed=1, seconds=0, trace=True, sizes=sizes,
            inspect=lambda spark, wl, jobs: gate_rejects_corruption(spark, wl, jobs, failures))
        if not result["correct"]:
            failures.append(f"{name}: the gate rejects the program's real output")
        for trace in (False, True):
            emitted = harness.emit(result, trace, log=lambda *_: None)["metrics"]
            wanted = harness.PER_LAYER if trace else harness.END_TO_END
            for metric, unit in wanted.items():
                if emitted.get(metric, {}).get("unit") != unit:
                    failures.append(f"{name}: {metric} not emitted with unit {unit}")
    for f in failures:
        print(f"perfbench selftest: FAIL: {f}")
    print(f"perfbench selftest: {'FAIL' if failures else 'ok'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench import reap

    sys.exit(reap.guarded(main))
