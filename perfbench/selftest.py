"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks the pieces without Spark (the
seeded inputs, the version model, the ranking comparison), then runs
every workload on a 300-document corpus, traced and untraced, and
checks the result line against ``BENCHMARK.json``. Last, it runs the
benchmark in a directory that holds only the benchmark and expects it
to fail without printing a result. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())


def check_units():
    from checks import Model, same_ranking
    from inputs import DECK, DECK_SIZE, Inputs

    a, b = Inputs(7, 300), Inputs(7, 300)
    assert list(a.rows) == list(b.rows)
    assert [q.keyword for q in a.deck()] == [q.keyword for q in b.deck()]
    deck = Inputs(8, 300).deck()
    assert len(deck) == DECK_SIZE
    assert {c: sum(q.cls == c for q in deck) for c in DECK} == DECK

    m = Model(list(a.rows.values()))
    doomed = a.pick_live(3)
    m.delete(doomed)
    hits = m.search("import", {}, 400)
    assert hits and not {h[0] for h in hits} & set(doomed)

    want = [("a", 3.0), ("b", 2.0), ("c", 2.0), ("d", 1.0)]
    assert same_ranking([("a", 3.0), ("c", 2.0)], want, 2)
    assert same_ranking([("a", 3.0), ("b", 2.0), ("c", 2.0)], want, 3)
    assert not same_ranking([("a", 3.0), ("d", 2.0)], want, 2)
    assert not same_ranking([("b", 2.0), ("a", 3.0)], want, 2)
    assert not same_ranking([("a", 3.0)], want, 2)


def run(args, cwd="."):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def check_runs():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = run(["--workload", w["name"], "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--docs", "300"])
            assert p.returncode == 0, p.stderr[-3000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            listed = bench["per_layer" if trace else "end_to_end"]
            assert list(res["metrics"]) == [m["name"] for m in listed], res["metrics"]
            for m in listed:
                got = res["metrics"][m["name"]]
                assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), got
            print(f"{w['name']} trace={trace}: ok, {res['attempted']} ops", flush=True)


def check_bare_dir():
    bare = os.path.join(".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", "point_query", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=bare)
        assert p.returncode != 0 and '"correct"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("bare directory: fails without a result", flush=True)


def main():
    check_units()
    print("units: ok", flush=True)
    check_bare_dir()
    check_runs()
    print("selftest passed")


if __name__ == "__main__":
    main()
