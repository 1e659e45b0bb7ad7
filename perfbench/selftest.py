#!/usr/bin/env python3
"""Self-test of the benchmark harness.

Usage, from the repository root:

    python3 perfbench/selftest.py

Runs each workload of BENCHMARK.json at sf 0.001 for one short cycle,
untraced and traced, and checks that every end-to-end and per-layer
metric BENCHMARK.json names is printed with its unit, that the untraced
run also prints the lake and ingest figures, that the traced lake_commit
run counts filesystem calls, and that the answers check out. Then it runs
olap_mix against a copy of the committed digests with one digest made
wrong and checks that exactly that query's ops are reported as failed.
Exits 0 when every check passes.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SF = 0.001
EXTRA_UNITS = {"commit_p50_ms": "ms", "commit_tail_ms": "ms", "ingest_rows_per_s": "rows/s",
               "lake_bytes_per_row": "B", "failed_op_ratio": "ratio"}
FS_OPS = ["lake.fs_read_ops", "lake.fs_list_ops", "lake.fs_status_ops", "lake.fs_write_ops"]


def launch(workload, trace, expected=run.EXPECTED):
    code, lines, log = run.launch(workload, 7, 1, trace, sf=SF, expected=expected)
    parsed = [json.loads(l) for l in lines if l.startswith("{")]
    if code != 0 or not parsed or "correct" not in parsed[-1]:
        sys.exit(f"FAIL {workload} trace={trace}: exit {code}, stderr in {log}\n"
                 + "\n".join(lines[-20:]))
    return parsed


def check_units(label, got, want):
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(n for n in want if n in got and got[n]["unit"] != want[n])
    if missing or extra or wrong:
        sys.exit(f"FAIL {label}: missing {missing}, unexpected {extra}, wrong unit {wrong}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines = launch(w, trace)
            result = lines[-1]
            if not result["correct"] or result["failed"] != 0:
                sys.exit(f"FAIL {w} trace={trace}: answers did not check out: {lines}")
            check_units(f"{w} trace={trace}", result["metrics"],
                        {m["name"]: m["unit"] for m in bench[key]})
            if trace == 0:
                extra = next(l["end_to_end_extra"] for l in lines if "end_to_end_extra" in l)
                check_units(f"{w} extra end-to-end", extra, EXTRA_UNITS)
            if trace == 1 and w == "lake_commit":
                zero = [m for m in FS_OPS if result["metrics"][m]["value"] <= 0]
                if zero:
                    sys.exit(f"FAIL {w}: filesystem calls not counted: {zero}")
            print(f"ok   {w} trace={trace}: {len(result['metrics'])} metrics with units")

    # a wrong expected digest must surface as a failed op, and only there
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    digests = expected["digests"][f"{SF:g}"]
    broken = sorted(digests)[0]
    digests[broken][1] += 1
    path = os.path.join(run.BUILD, "selftest-expected.json")
    with open(path, "w") as f:
        json.dump(expected, f)
    lines = launch("olap_mix", 0, expected=path)
    result = lines[-1]
    failed = {l["failed_op"] for l in lines if "failed_op" in l}
    if result["correct"] or result["failed"] < 1 or failed != {broken}:
        sys.exit(f"FAIL wrong expected digest of {broken}: failed ops {failed}, {result}")
    print(f"ok   wrong expected digest of {broken} reported as a failed op")


if __name__ == "__main__":
    main()
