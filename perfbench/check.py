"""Output checks of one benchmark run, with Python's standard library only.

The JVM writes each operation's warm-pass output as JSON lines
(`<out>/check/<op>/part-*.json`, nulls kept) and its column names
(`<out>/check/<op>.columns`).

* Operations on the generated reference table (`ref_*`) are checked row by
  row against values computed analytically from the seed, with no geometry
  library: the generator's coordinate law is restated here.
* `graft.SparkEntry` rows are checked against the result of their DuckDB
  oracle SQL over the same sf0.1 tables, the way the repository's contract
  compares them: same sorted column names, same row count, same multiset of
  rows with doubles rounded to 9 places. The oracle results are kept in
  `perfbench/expected.json` as column names, row count and a digest of the
  sorted, normalized rows, keyed by a hash of the oracle SQL;
  `python3 perfbench/oracle.py` (needs DuckDB) remakes them. A row whose
  oracle SQL no longer matches its expectation fails the check.

Each check returns a list of problems; an empty list means the output is
correct.
"""
import hashlib
import json
import math
from pathlib import Path

EXPECTED = Path(__file__).resolve().parent / "expected.json"

# Must match PerfBench.RefPoint / RefEnvelope / RefBufferWidth.
ENVELOPE = (1000.0625, 1000.0625, 9000.0625, 9000.0625)
BUFFER_W = 0.5
TOL = 1e-9
LENGTH = 4 * math.sqrt(2)


def ref_coords(rows, seed):
    """Restatement of PerfBench.refLinesSql: (id, x0, y0) per row."""
    s = seed % (1 << 31)
    for i in range(rows):
        x0 = ((i * 2654435761 + s * 40503) % rows) / 8.0
        dk = ((i * 2246822519 + s * 3266489917) % 4294967296) >> 30
        yield i, x0, x0 + (1.0, 2.5, -3.0, 1.0)[dk]


def _wkt_num(v):
    # graft's WKT writer prints whole values as integers, others as the
    # shortest round-trip decimal
    return str(int(v)) if v == int(v) else repr(v)


def _close(got, want):
    return isinstance(got, (int, float)) and abs(got - want) <= TOL * (1 + abs(want))


def _expect_wkt(x0, y0):
    return "LINESTRING(" + ",".join(
        f"{_wkt_num(x0 + d)} {_wkt_num(y0 + d)}" for d in (0, 2, 4)) + ")"


def _expect_bb(x0, y0):
    return {"xmin": x0 - BUFFER_W, "ymin": y0 - BUFFER_W,
            "xmax": x0 + 4 + BUFFER_W, "ymax": y0 + 4 + BUFFER_W}


def _inside(x0, y0):
    xmin, ymin, xmax, ymax = ENVELOPE
    return x0 > xmin and x0 + 4 < xmax and y0 > ymin and y0 + 4 < ymax


# Per reference operation: does output row `g` hold the right values for
# the line at (x0, y0)?
REF_CHECKS = {
    "ref_intersects": lambda g, x0, y0: g.get("hit") is (y0 - x0 == 1.0 and 6 <= x0 <= 10),
    "ref_astext": lambda g, x0, y0: g.get("wkt") == _expect_wkt(x0, y0),
    "ref_buffer_box2d": lambda g, x0, y0: isinstance(g.get("bb"), dict) and all(
        _close(g["bb"].get(k), v) for k, v in _expect_bb(x0, y0).items()),
    "ref_length_npoints": lambda g, x0, y0: _close(g.get("len"), LENGTH) and g.get("np") == 3,
    "ref_within": lambda g, x0, y0: g.get("inside") is _inside(x0, y0),
}


def read_output(out_dir, op):
    """(column names, rows as dicts) of an operation's warm-pass output, or
    None if it wrote none."""
    cols = Path(out_dir) / "check" / f"{op}.columns"
    parts = sorted((Path(out_dir) / "check" / op).glob("part-*.json"))
    if not cols.exists():
        return None
    rows = []
    for p in parts:
        with open(p) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return cols.read_text().split("\n"), rows


def check_ref(op, rows, nrows, seed):
    """Problems of reference operation `op`'s output `rows` (dicts with an id)."""
    match = REF_CHECKS[op]
    got = {}
    dup = 0
    for g in rows:
        if g.get("id") in got:
            dup += 1
        got[g.get("id")] = g
    missing = wrong = 0
    for i, x0, y0 in ref_coords(nrows, seed):
        g = got.pop(i, None)
        if g is None:
            missing += 1
        elif not match(g, x0, y0):
            wrong += 1
    problems = []
    if missing:
        problems.append(f"{op}: {missing} rows missing")
    if got:
        problems.append(f"{op}: {len(got)} unexpected rows")
    if wrong:
        problems.append(f"{op}: {wrong} rows with wrong values")
    if dup:
        problems.append(f"{op}: {dup} duplicate ids")
    return problems


def _norm(v):
    """One value as both sides compare it: doubles rounded to 9 places, a
    whole double equal to the integer. Other types pass as they are, so a
    type the two sides write differently fails the compare."""
    if isinstance(v, float):
        v = round(v, 9) + 0.0
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    return v


def summary(columns, rows):
    """Sorted column names, row count and a digest of the multiset of rows:
    `rows` are dicts or sequences in `columns` order."""
    cols = sorted(columns)
    order = [columns.index(c) for c in cols]
    lines = sorted(
        repr(tuple(_norm(v) for v in (
            [r.get(c) for c in cols] if isinstance(r, dict) else [r[i] for i in order])))
        for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": cols, "rows": len(lines), "digest": digest}


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def compare(op, columns, rows, sql, expected):
    """Problems of a SparkEntry row's output against its oracle expectation."""
    exp = expected.get(op)
    if exp is None or exp["sql_sha256"] != sql_key(sql):
        return [f"{op}: perfbench/expected.json has no result for this oracle SQL; "
                f"remake it with python3 perfbench/oracle.py"]
    got = summary(columns, rows)
    if got["columns"] != exp["columns"]:
        return [f"{op}: columns {got['columns']} vs oracle {exp['columns']}"]
    if got["rows"] != exp["rows"]:
        return [f"{op}: {got['rows']} rows vs oracle {exp['rows']}"]
    if got["digest"] != exp["digest"]:
        return [f"{op}: rows differ from the oracle's (same count, different values)"]
    return []


def load_expected(path=EXPECTED):
    return json.loads(Path(path).read_text()) if Path(path).exists() else {}


def check_run(result, out_dir, expected):
    """All problems with the outputs of one run (its warm pass). An
    operation that failed only in timed passes is still checked."""
    problems = []
    # only an operation that failed in the warm pass has no output; the run
    # must count it as failed, or the skipped check would go unseen
    warm_failed = set(result["warm_failures"])
    if len(warm_failed) > result["failed"]:
        problems.append(f"{len(warm_failed)} operations failed in the warm pass, "
                        f"but the run counts {result['failed']} failed")
    for op in result["ops"]:
        if op in warm_failed:
            continue
        output = read_output(out_dir, op)
        if output is None:
            problems.append(f"{op}: no output to check")
            continue
        columns, rows = output
        if op in REF_CHECKS:
            problems += check_ref(op, rows, result["rows"], result["seed"])
        else:
            problems += compare(op, columns, rows, result["oracle"][op], expected)
    return problems
