#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery (no Spark unless --e2e).

  python3 perfbench/selftest.py [--e2e]

  1. datagen: the same seed writes byte-identical inputs, another seed
     writes different ones
  2. checks: a correct expectation passes and a deliberately wrong one is
     caught, for the frame compare and the keyed-state models
  3. compare.py: on the stored sample of run.py's own output
     (perfbench/samples/{parent,change}: two run sets of the same code),
     the report reads every metric, identical code is never a regression,
     and a shifted copy is judged a regression / gain in the right
     direction
  4. --e2e: a real run with one expectation made wrong must print
     "correct": false and exit 1
"""
import copy
import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import compare  # noqa: E402
import datagen  # noqa: E402

SCRATCH = ROOT / ".bench_build" / "selftest"


def same_tree(a: Path, b: Path) -> bool:
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(same_tree(a / d, b / d) for d in c.common_dirs)


def test_datagen():
    for w in datagen.GENERATORS:
        datagen.generate(w, 7, str(SCRATCH / "a" / w))
        datagen.generate(w, 7, str(SCRATCH / "b" / w))
        datagen.generate(w, 8, str(SCRATCH / "c" / w))
        assert same_tree(SCRATCH / "a" / w, SCRATCH / "b" / w), f"{w}: seed 7 not reproducible"
        assert not same_tree(SCRATCH / "a" / w, SCRATCH / "c" / w), f"{w}: seeds 7 and 8 agree"
    print("ok datagen: byte-identical per seed, different across seeds")


def test_frame_compare():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    assert checks.compare_frames("t", want.iloc[::-1], want) == []
    wrong = want.copy()
    wrong.loc[1, "v"] = 1.26
    assert checks.compare_frames("t", want, wrong), "changed value not caught"
    assert checks.compare_frames("t", want, want.iloc[:2]), "missing row not caught"
    assert checks.compare_frames("t", want, want.rename(columns={"s": "x"})), "schema not caught"
    # a quotient just below a decimal tie rounds down, as the program rounds it
    assert checks.half_up_of_double(92363295.33 / 360, 4) == 256564.7092
    assert checks.half_up_of_double(0.45345, 4) == 0.4535
    print("ok frame compare: rows, schema and value hash; rounding at ties")


def test_models():
    stream_dir = SCRATCH / "a" / "stream_upsert" / "stream"
    model, good = checks.KeyedModel(), []
    for i, f in enumerate(sorted(stream_dir.glob("b*.parquet"))):
        model.apply(checks.batch_frame(str(f)))
        c, cents, h = model.digest()
        good.append({"kind": "state", "batches": i + 1, "count": c, "cents": cents, "hash": h})
    assert checks.check_stream(good, str(stream_dir)) == []
    bad = copy.deepcopy(good)
    bad[-1]["hash"] += 1
    assert checks.check_stream(bad, str(stream_dir)), "wrong stream state not caught"

    churn_dir = SCRATCH / "a" / "table_churn" / "churn"
    model = checks.KeyedModel()
    model.apply(checks.read_dir(str(churn_dir / "seed")))
    before = set(model.rows)
    batch = checks.read_dir(str(churn_dir / "batches" / "b00000"))
    model.apply(batch)
    key = int(batch["o_orderkey"].iloc[0])
    status, cents, version = model.rows[key]
    ins = sum(1 for k in batch["o_orderkey"] if k not in before)
    c, s, h = model.digest()
    good = [{"kind": "at", "version": 2, "batches": 1, "count": c, "cents": s, "hash": h},
            {"kind": "point", "batches": 1, "key": key, "rows": [[key, status, cents / 100, version]]},
            {"kind": "changes", "batch": 0, "changes": {"insert": ins, "update_preimage": len(batch) - ins,
                                                        "update_postimage": len(batch) - ins}}]
    assert checks.check_churn(good, str(churn_dir)) == [], checks.check_churn(good, str(churn_dir))
    for i, field, delta in [(0, "count", 1), (2, "changes", None), (1, "rows", None)]:
        bad = copy.deepcopy(good)
        if field == "count":
            bad[i]["count"] += delta
        elif field == "changes":
            bad[i]["changes"]["insert"] += 1
        else:
            bad[i]["rows"][0][1] = "X"
        assert checks.check_churn(bad, str(churn_dir)), f"wrong churn {field} not caught"
    print("ok keyed models: stream state, churn time travel / point lookup / change feed")


def test_compare():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent = compare.load_runs([HERE / "samples" / "parent"])
    change = compare.load_runs([HERE / "samples" / "change"])
    assert parent and change, "stored sample missing"
    text, bad = compare.report(parent, change, spec)
    assert bad == 0, "identical code judged a regression:\n" + text
    for m in spec["end_to_end"]:
        assert m["name"] in text, f"{m['name']} missing from the report"

    def shifted(factor):
        out = copy.deepcopy(change)
        for r in out:
            r["result"]["metrics"]["op_p50_s"]["value"] *= factor
        return out
    text, bad = compare.report(parent, shifted(2.0), spec)
    assert bad >= 1 and "regression" in text, "doubled latency not judged a regression"
    text, _ = compare.report(parent, shifted(0.5), spec)
    line = [l for l in text.splitlines() if l.strip().startswith("op_p50_s")][0]
    assert line.endswith("gain"), "halved latency not judged a gain: " + line
    print(f"ok compare: {len(parent)}+{len(change)} stored runs read; "
          "regression and gain detected")


def test_e2e():
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "stream_upsert",
                        "--seed", "3", "--seconds", "1",
                        "--perturb-expectation"], cwd=ROOT, capture_output=True, text=True)
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert r.returncode == 1 and last["correct"] is False and last["failed"] >= 1, r.stdout
    print("ok e2e: a wrong expectation fails the run")


if __name__ == "__main__":
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        test_datagen()
        test_frame_compare()
        test_models()
        test_compare()
        if "--e2e" in sys.argv:
            test_e2e()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")
