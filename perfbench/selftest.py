#!/usr/bin/env python3
"""Self-test for the benchmark.

    python3 perfbench/selftest.py

1. Runs every workload in both trace modes on tiny inputs (the sf0.001
   corpus, a 1,000-page dump, 1 s of passes). It checks each result
   line: exactly the keys correct/attempted/failed/metrics, a correct
   run, and every metric BENCHMARK.json names for that mode, with its
   unit and a finite number.
2. Writes a corrupted copy of a wiki output and of a corpus result
   that the runs left behind. It checks that the correctness check
   rejects each copy and accepts the original.

Exits non-zero at the first failure. Takes about two minutes.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402

WORK = os.path.join(HERE, ".work")
TINY = ["--corpus", "sf0.001", "--pages", "1000", "--seconds", "1",
        "--warm", "1"]


def fail(msg):
    sys.exit(f"selftest: FAIL: {msg}")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--trace", str(trace)] + TINY
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if r.returncode != 0:
        fail(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_line(line, expected, what):
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: result keys {sorted(line)}")
    if line["correct"] is not True or line["failed"] != 0:
        fail(f"{what}: run not correct: {line['failed']} failed")
    if not isinstance(line["attempted"], int) or line["attempted"] < 1:
        fail(f"{what}: attempted {line['attempted']!r}")
    got = line["metrics"]
    if set(got) != {m["name"] for m in expected}:
        fail(f"{what}: metrics differ from BENCHMARK.json: "
             f"{sorted(set(got) ^ {m['name'] for m in expected})}")
    for m in expected:
        v = got[m["name"]]
        if v["unit"] != m["unit"]:
            fail(f"{what}: {m['name']} unit {v['unit']!r}, want {m['unit']!r}")
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            fail(f"{what}: {m['name']} value {v['value']!r}")


def check_corrupted_wiki():
    run_dir = os.path.join(WORK, "runs", "wiki_pagerank")
    want = checks.wiki_oracle(os.path.join(run_dir, "dump.txt"))
    good = os.path.join(run_dir, "out", "p1")
    if checks.compare_wiki(want, good) is not None:
        fail("wiki: the original output is rejected")
    bad = os.path.join(WORK, "selftest", "wiki_corrupt")
    shutil.rmtree(bad, ignore_errors=True)
    os.makedirs(bad)
    part = sorted(f for f in os.listdir(good) if f.startswith("part-"))[0]
    with open(os.path.join(good, part)) as f:
        lines = f.read().splitlines()
    node, _, value = lines[0].rpartition("\t")
    lines[0] = f"{node}\t{float(value.replace(',', '')) + 1e-6:.10f}"
    with open(os.path.join(bad, part), "w") as f:
        f.write("\n".join(lines) + "\n")
    if checks.compare_wiki(want, bad) is None:
        fail("wiki: a corrupted rank was not caught")


def check_corrupted_corpus():
    run_dir = os.path.join(WORK, "runs", "curation_retrieval")
    with open(os.path.join(run_dir, "result.json")) as f:
        sql = json.load(f)["oracle_sql"]["q1_agg"]
    oracle = checks.CorpusOracle(os.path.join(HERE, "corpus", "sf0.001"),
                                 os.path.join(WORK, "oracle"))
    want = oracle.result("q1_agg", sql)
    oracle.close()
    good = os.path.join(run_dir, "check", "p1", "q1_agg.tsv")
    if checks.compare_rows(want, checks.read_rows(good)) is not None:
        fail("corpus: the original q1_agg result is rejected")
    with open(good) as f:
        lines = f.read().split("\n")
    kinds = [h.partition(":")[2] for h in lines[0].split("\t")]
    col = next(i for i, k in enumerate(kinds) if k in checks.FLOATING)
    fields = lines[1].split("\t")
    fields[col] = repr(float(fields[col]) * (1 + 1e-12))
    lines[1] = "\t".join(fields)
    bad = os.path.join(WORK, "selftest", "q1_agg_corrupt.tsv")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    with open(bad, "w") as f:
        f.write("\n".join(lines))
    if checks.compare_rows(want, checks.read_rows(bad)) is None:
        fail("corpus: a corrupted q1_agg cell was not caught")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((1, "per_layer"), (0, "end_to_end")):
            check_line(run(w, trace), spec[key], f"{w} trace={trace}")
            print(f"selftest: {w} trace={trace}: every {key} metric emitted")
    check_corrupted_wiki()
    check_corrupted_corpus()
    print("selftest: corrupted results are caught")
    print("selftest: OK")


if __name__ == "__main__":
    main()
