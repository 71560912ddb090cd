#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the library).

Usage (from the repository root): python3 perfbench/selftest.py

1. Every workload, including the two the gated set leaves out, runs at
   tiny size in both modes; the last line must be the result object with
   exactly the keys correct/attempted/failed/metrics, correct, and metric
   names and units equal to BENCHMARK.json's end_to_end (--trace 0) or
   per_layer (--trace 1) lists; a workload outside the gated set reports
   its own spans and extras (OWN) after the per_layer list.
2. A forced exception and a tampered output must each come back as a
   failed operation (correct false, failed_frac > 0) whose time is left out
   of the timings.
3. In a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark must exit non-zero without printing a result.
Exits 0 when every check passes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL_WORKLOADS = ("gt_qc", "doc_dedup", "dedup_stream", "graph_iter")
COUNTERS = {"self_s": "s", "jobs": "count", "no_task_s": "s", "task_s": "s", "gc_s": "s",
            "exchanges": "count", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
            "output_bytes": "bytes"}
# per-layer metrics of the spans only the ungated workloads open
OWN = {
    "doc_dedup": (["ext.DocPipeline.prepare"], {"ext.dedup.kept_frac": "ratio"}),
    "dedup_stream": (["ext.DocPipeline.streamIncremental.batch"],
                     {"ext.dedup.kept_frac": "ratio", "ext.dedup.verify_yield": "ratio",
                      "sources.AppendStore.versions_per_batch": "count",
                      "sources.AppendStore.files": "count",
                      "sources.AppendStore.bytes_per_doc": "bytes",
                      "streaming.addBatch_s": "s", "streaming.queryPlanning_s": "s",
                      "streaming.walCommit_s": "s", "streaming.batch_tail_s": "s"}),
}
failures = []


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines()


def expect(ok, what):
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def result(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
             "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in ALL_WORKLOADS:
        for trace in ("0", "1"):
            code, lines = run(["--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", trace, "--size", "tiny"])
            r = result(lines)
            tag = f"{w} --trace {trace}"
            expect(code == 0 and r is not None, f"{tag}: exits 0 with a result line")
            if r is None:
                continue
            expect(set(r) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{tag}: correct, nothing failed")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            want = dict(names[trace])
            if trace == "1" and w in OWN:
                spans, extras = OWN[w]
                want.update({f"{sp}.{c}": u for sp in spans for c, u in COUNTERS.items()}, **extras)
            expect(got == want, f"{tag}: metric names and units match BENCHMARK.json")

    for w, inject in (("gt_qc", "exception"), ("gt_qc", "tamper"), ("graph_iter", "tamper"),
                      ("dedup_stream", "tamper")):
        code, lines = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0",
                           "--size", "tiny", "--inject", inject])
        r = result(lines)
        tag = f"{w} --inject {inject}"
        expect(code == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
               f"{tag}: reported as a failed operation")
        frac = [l for l in lines if l.startswith("metric failed_frac = ")]
        expect(bool(frac) and float(frac[0].split()[3]) > 0, f"{tag}: failed_frac > 0")
        ops = [l for l in lines if l.startswith("ops (s):")]
        timed = len(ops[0].split()) - 2 if ops else -1
        expect(r is not None and timed == r["attempted"] - r["failed"],
               f"{tag}: the failed operation's time is not a sample")

    bare = os.path.join(HERE, ".out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", ".out", "__pycache__"))
    code, lines = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                       "--seconds", "1", "--trace", "0"], cwd=bare)
    expect(code != 0 and result(lines) is None, "without the library sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} self-test failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
