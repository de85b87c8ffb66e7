#!/usr/bin/env python3
"""Self-test of the benchmark's output checks (perfbench/check.py).

Every check must accept a correct result and reject the same result with
one row dropped, and with one value changed. The analytic checks of the
reference operations get their correct result from the seed's coordinates,
shaped as the program writes it. The oracle compare gets a result and its
expectation made the way perfbench/oracle.py makes them, and must accept
the result shuffled, with its columns reordered, its doubles off in the
12th place and a whole double written as an integer; it must reject it
when the oracle SQL no longer matches the expectation. The run-level check
must still check an operation that failed only in timed passes, and reject
a run whose unchecked (warm-failed) operations are not counted failed.
Needs only Python, no build:

    python3 perfbench/selftest.py
"""
import json
import os
import random
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import check  # noqa: E402

ROWS, SEED = 1 << 12, 7


def ref_output(op):
    """The correct output of a reference operation, as the program writes it."""
    out = []
    for i, x0, y0 in check.ref_coords(ROWS, SEED):
        row = {
            "ref_intersects": lambda: {"hit": y0 - x0 == 1.0 and 6 <= x0 <= 10},
            "ref_astext": lambda: {"wkt": check._expect_wkt(x0, y0)},
            "ref_buffer_box2d": lambda: {"bb": check._expect_bb(x0, y0)},
            "ref_length_npoints": lambda: {"len": check.LENGTH, "np": 3},
            "ref_within": lambda: {"inside": check._inside(x0, y0)},
        }[op]()
        out.append({"id": i, **row})
    return out


# Per reference operation: one value of a row changed.
CHANGES = {
    "ref_intersects": lambda r: {**r, "hit": not r["hit"]},
    "ref_astext": lambda r: {**r, "wkt": r["wkt"].replace(",", ", ")},
    "ref_buffer_box2d": lambda r: {**r, "bb": {**r["bb"], "xmax": r["bb"]["xmax"] + 0.001}},
    "ref_length_npoints": lambda r: {**r, "len": r["len"] * (1 + 1e-6)},
    "ref_within": lambda r: {**r, "inside": not r["inside"]},
}

ORACLE_SQL = "SELECT k, share, n, tag FROM t"
ORACLE_COLUMNS = ["k", "share", "n", "tag"]
ORACLE_ROWS = [(k, k / 7, float(k % 5), f"t{k % 100}") for k in range(200)]


def with_row(rows, at, change):
    return [change(r) if i == at else r for i, r in enumerate(rows)]


def expect(label, problems, want_reject):
    ok = bool(problems) == want_reject
    verdict = "rejects" if problems else "accepts"
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {verdict}" + (f" ({problems[0]})" if problems else ""))
    return ok


def main():
    results = []
    outputs = {}
    for op, change in CHANGES.items():
        good = ref_output(op)
        outputs[op] = good
        dropped = [r for r in good if r["id"] != 17]
        edited = with_row(good, 17, change)
        results.append(expect(f"{op} correct", check.check_ref(op, good, ROWS, SEED), False))
        results.append(expect(f"{op} one row dropped", check.check_ref(op, dropped, ROWS, SEED), True))
        results.append(expect(f"{op} one value changed", check.check_ref(op, edited, ROWS, SEED), True))

    # the oracle compare: an expectation as oracle.py stores it, and the
    # program's output as dicts read from JSON
    expected = {"oracle": {"sql_sha256": check.sql_key(ORACLE_SQL),
                           **check.summary(ORACLE_COLUMNS, ORACLE_ROWS)}}
    as_dicts = [dict(zip(ORACLE_COLUMNS, r)) for r in ORACLE_ROWS]
    shuffled = [{"tag": r["tag"], "n": int(r["n"]), "share": r["share"] + 1e-12, "k": r["k"]}
                for r in as_dicts]
    random.Random(SEED).shuffle(shuffled)
    cols = ["tag", "n", "share", "k"]

    def compare(rows, sql=ORACLE_SQL, columns=cols):
        return check.compare("oracle", columns, rows, sql, expected)

    results.append(expect("oracle compare, correct (shuffled, columns reordered)",
                          compare(shuffled), False))
    results.append(expect("oracle compare, one row dropped", compare(shuffled[1:]), True))
    results.append(expect("oracle compare, one double changed",
                          compare(with_row(shuffled, 5, lambda r: {**r, "share": r["share"] + 1e-6})), True))
    results.append(expect("oracle compare, one string changed",
                          compare(with_row(shuffled, 5, lambda r: {**r, "tag": r["tag"] + "x"})), True))
    results.append(expect("oracle compare, one column renamed",
                          compare([{("label" if k == "tag" else k): v for k, v in r.items()} for r in shuffled],
                                  columns=["label", "n", "share", "k"]), True))
    results.append(expect("oracle compare, oracle SQL changed since the expectation",
                          compare(shuffled, sql=ORACLE_SQL + " WHERE k > 0"), True))

    # the run-level check: which outputs are checked, and the failure count
    tmp = Path(".bench_build") / f"selftest-{os.getpid()}"
    try:
        def run_check(label, ops, files, warm_failures=(), failures=(), failed=0, want_reject=False):
            out = tmp / f"run-{len(results)}"
            for op, rows in files.items():
                (out / "check" / op).mkdir(parents=True)
                (out / "check" / f"{op}.columns").write_text("\n".join(rows[0].keys()))
                with open(out / "check" / op / "part-00000.json", "w") as f:
                    f.writelines(json.dumps(r) + "\n" for r in rows)
            result = {"ops": ops, "rows": ROWS, "seed": SEED, "failed": failed,
                      "warm_failures": list(warm_failures),
                      "failures": {op: "boom" for op in failures}, "oracle": {}}
            results.append(expect(label, check.check_run(result, out, {}), want_reject))

        ok = outputs["ref_within"]
        bad = with_row(ok, 17, CHANGES["ref_within"])
        run_check("run check, correct output", ["ref_within"], {"ref_within": ok})
        run_check("run check, op failed only in a timed pass, wrong output",
                  ["ref_within"], {"ref_within": bad}, failures=["ref_within"], failed=1,
                  want_reject=True)
        run_check("run check, op failed in the warm pass, counted failed",
                  ["ref_within"], {}, warm_failures=["ref_within"], failures=["ref_within"], failed=1)
        run_check("run check, op failed in the warm pass, not counted failed",
                  ["ref_within"], {}, warm_failures=["ref_within"], failures=["ref_within"],
                  want_reject=True)
        run_check("run check, op with no output and no failure",
                  ["ref_within"], {}, want_reject=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"\n{sum(results)}/{len(results)} self-test cases as expected")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
