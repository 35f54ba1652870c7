#!/usr/bin/env python3
"""Self-tests of the load-path benchmark. Run from the repository root:

    python3 perfbench/selftest.py [parser] [corrupt] [counts]

parser   replays a captured `sbt runMain` tail through the record parser
corrupt  runs every workload against a corrupted expectation: every load
         must fail its output check, and the record must say so
counts   makes two traced runs of one seed per workload: the exact counts
         must be the same in every traced load of both runs

With no argument, all three run (about ten minutes; the JVM runs are short
but each still sets up three times).
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TAIL = os.path.join(run.HERE, "testdata", "sbt_runmain_tail.txt")
SECONDS = 2


def test_parser():
    with open(TAIL) as f:
        tail = f.read()
    rec = run.parse_record(tail)
    assert rec is not None, "captured sbt tail did not parse"
    assert tail.rstrip().splitlines()[-1].startswith("[success]"), \
        "fixture must end with sbt's [success] line"
    assert set(run.RECORD_KEYS) <= set(rec), rec.keys()
    assert rec["correct"] is True and rec["attempted"] >= 1
    e2e, _ = run.declared()
    assert set(rec["metrics"]) == set(e2e), sorted(rec["metrics"])
    line = '{"correct": true, "attempted": 3, "failed": 0, "metrics": {}}'
    assert run.parse_record(line)["attempted"] == 3
    assert run.parse_record("[info] " + line + "\n[success] Total time: 9 s")["attempted"] == 3
    assert run.parse_record("[info] " + line + "\n[info] {not json\n") is not None
    assert run.parse_record('[info] {"metric": "x"}\n[success] done') is None
    assert run.parse_record("") is None
    print("parser: ok")


def test_corrupt():
    for w in run.WORKLOADS:
        rec, text = run.run_jvm(w, 7, SECONDS, 0, extra=("--selftest", "corrupt-expectation"))
        assert rec is not None, f"{w}: no record\n{text[-2000:]}"
        assert rec["correct"] is False, f"{w}: a corrupted expectation passed"
        assert rec["failed"] == rec["attempted"] >= 1, \
            f"{w}: {rec['failed']} of {rec['attempted']} loads failed, want all"
        print(f"corrupt {w}: all {rec['attempted']} loads caught")


def test_counts():
    for w in run.WORKLOADS:
        seen = []
        for _ in range(2):
            rec, text = run.run_jvm(w, 5, SECONDS, 1)
            assert rec is not None and rec["correct"], f"{w}: bad run\n{text[-2000:]}"
            detail = rec["detail"]
            assert detail["exact_counts_repeat"], f"{w}: counts differ between loads"
            seen.append(detail["exact_counts"])
        assert seen[0] == seen[1], f"{w}: counts differ between runs: {seen}"
        print(f"counts {w}: {seen[0]}")


def main(argv):
    tests = {"parser": test_parser, "corrupt": test_corrupt, "counts": test_counts}
    for name in argv or list(tests):
        tests[name]()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
