"""Self-test of the output checks: each check must pass on a real run's
outputs and fail on a copy with one output perturbed.

    python3 perfbench/selftest.py [workload ...]   # default: all three

Runs the benchmark once per workload (seed 1, one second), then
perturbs copies of its outputs. Exits non-zero if any check misses its
perturbation.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402


def _edit_first_part(d, fn):
    p = sorted(Path(d).glob("part-*"))[0]
    lines = p.read_text().split("\n")
    fn(lines)
    p.write_text("\n".join(lines))


def _flip_vector_bit(lines):
    term, vec = lines[0].split("\t")
    lines[0] = f"{term}\t[{'0' if vec[1] == '1' else '1'}{vec[2:]}"


def _bad_rank(path):
    lines = path.read_text().split("\n")
    cols = lines[0].split("\t")
    lines[0] = "\t".join(cols[:3] + ["99"])
    path.write_text("\n".join(lines))


def _move_member(lines):
    k, members = lines[0].split("\t")
    first, _, rest = members.partition(" ")
    lines[0] = k + "\t" + rest
    k2, members2 = lines[1].split("\t")
    lines[1] = k2 + "\t" + " ".join(sorted(members2.split(" ") + [first]))


def _parquet_edit(d, fn):
    files = sorted(Path(d).glob("*.parquet"))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    for f in files:
        f.unlink()
    fn(df).to_parquet(Path(d) / "part-0.parquet")


def _perturb_cell(df):
    df = df.copy()
    c = df.columns[0]
    df.loc[0, c] = df[c].iloc[-1] if len(df) > 1 and df[c].iloc[-1] != df[c].iloc[0] \
        else df[c].iloc[0] * 2 + 1
    return df


def perturbations(workload, work, last):
    """(description, function editing the copied work dir) pairs."""
    chk = "out/check"
    if workload == "refjob":
        return [("Job 1 vector bit", lambda w, l: _edit_first_part(l, _flip_vector_bit)),
                ("Job 2 member moved",
                 lambda w, l: _edit_first_part(Path(l) / "kmeansOutput6", _move_member))]
    if workload == "corpus":
        return [("exact survivor dropped",
                 lambda w, l: _parquet_edit(w / chk / "exact", lambda df: df.iloc[1:])),
                ("component relabelled",
                 lambda w, l: _parquet_edit(w / chk / "cc", lambda df: df.assign(
                     component=[df["component"].iloc[0] + 1] + list(df["component"].iloc[1:])))),
                ("search rank out of range",
                 lambda w, l: _bad_rank(w / chk / "search.tsv"))]
    oracle = json.loads((work / chk / "oracle_sql.json").read_text())
    name = sorted(oracle)[0]
    return [(f"{name} cell changed",
             lambda w, l: _parquet_edit(w / chk / name, _perturb_cell))]


def selftest(workload):
    subprocess.run([sys.executable, str(build.ROOT / "perfbench" / "run.py"),
                    "--workload", workload, "--seed", "1", "--seconds", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    work = build.BUILD / "work" / workload
    last = json.loads((work / "result.json").read_text())["last_output"]
    ok = True
    base = checks.CHECKS[workload](work, last)
    print(f"{workload}: unperturbed -> {'pass' if not base else base}")
    ok &= not base
    for desc, edit in perturbations(workload, work, last):
        copy = build.BUILD / "selftest" / workload
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(work, copy, ignore=shutil.ignore_patterns("spark-local"))
        copy_last = copy / Path(last).relative_to(work)
        edit(copy, copy_last)
        fails = checks.CHECKS[workload](copy, copy_last)
        print(f"{workload}: {desc} -> {'caught: ' + fails[0] if fails else 'MISSED'}")
        ok &= bool(fails)
        shutil.rmtree(copy)
    return ok


if __name__ == "__main__":
    wls = sys.argv[1:] or ["refjob", "corpus", "queries"]
    sys.exit(0 if all([selftest(w) for w in wls]) else 1)
