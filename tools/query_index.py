#!/usr/bin/env python3
"""Generate the SURVEY per-query index table: every SparkEntry query
name -> the operator it exercises -> its verification kind (DuckDB
oracle vs rows-only golden) -> where it's defined (file:line).

Sources of truth: the query-module Scala files for definitions, the
module oracle maps for oracle coverage, Goldens.rowsOnly for the
golden set. Rerun after adding queries:
    python3 tools/query_index.py > /tmp/query_index.md
then refresh the table in SURVEY.md §2.10.

Counts gate (VERDICT r21 #6 / r20 #2):
    python3 tools/query_index.py --check [--tests N --suites M]
recomputes the query/oracle/golden counts from the Scala sources and
FAILS (exit 1) when README.md or SURVEY.md state different numbers, a
query is neither oracled nor golden-pinned, or (when --tests/--suites
are passed, from the freshest `sbt test` tail) the README test-count
line drifted. Run it in the end-of-round checklist.
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QDIR = os.path.join(REPO, "src/main/scala/graft/queries")

OP_RE = re.compile(
    r"\b((?:Dedup|Search|Knn|TextOps|Bpe|Pca|Temporal|Multimodal|"
    r"Classifier|UnigramLm|Layout|Sketches|SketchFunctions|"
    r"BpeFunctions|VectorFunctions|TextHashFunctions|GeoFunctions|"
    r"ImageOps)\.\w+)")
DEF_RE = re.compile(r'^\s*"(q_[a-z0-9_]+)"\s*->')


def module_queries(path):
    """(name, line, operator) for each query defined before the oracle
    map; oracle names from the oracle map section."""
    text = open(path).read().splitlines()
    # split at the oracle map declaration if present
    oracle_start = next((i for i, l in enumerate(text)
                         if re.search(r"val oracle\s*:", l)), len(text))
    defs, oracle_names = [], set()
    for i, line in enumerate(text):
        m = DEF_RE.match(line)
        if not m:
            continue
        name = m.group(1)
        if i >= oracle_start:
            oracle_names.add(name)
            continue
        # operator: first operator-object call within the next 25 lines
        op = None
        for j in range(i, min(i + 25, len(text))):
            om = OP_RE.search(text[j])
            if om:
                op = om.group(1)
                break
            # stop scanning at the next query definition
            if j > i and DEF_RE.match(text[j]):
                break
        defs.append((name, i + 1, op or "DataFrame composition"))
    return defs, oracle_names


def goldens():
    src = open(os.path.join(REPO, "src/main/scala/graft/Goldens.scala")).read()
    block = src.split("rowsOnly")[1].split("expected")[0]
    return set(re.findall(r'"(q_[a-z0-9_]+)"', block))


def collect():
    golden = goldens()
    rows, all_oracle = [], set()
    for fn in sorted(os.listdir(QDIR)):
        if not fn.endswith(".scala"):
            continue
        defs, oracle_names = module_queries(os.path.join(QDIR, fn))
        all_oracle |= oracle_names
        for name, line, op in defs:
            rows.append((name, op, f"src/main/scala/graft/queries/{fn}:{line}"))
    return rows, all_oracle, golden


def check(tests=None, suites=None):
    """Exit non-zero when README/SURVEY counts drift from the sources."""
    rows, all_oracle, golden = collect()
    names = {r[0] for r in rows}
    n_golden = len(names & golden)
    n_oracle = len({n for n in names if n in all_oracle and n not in golden})
    missing = sorted(n for n in names
                     if n not in all_oracle and n not in golden)
    errs = []
    if missing:
        errs.append(f"queries with NO oracle and NO golden: {missing}")
    readme = open(os.path.join(REPO, "README.md")).read()
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(r"\((\d+) queries, (\d+) DuckDB-oracled", readme)
    if not m:
        errs.append("README.md: query-count line not found")
    elif (int(m.group(1)), int(m.group(2))) != (len(names), n_oracle):
        errs.append(f"README.md says {m.group(1)} queries / {m.group(2)} "
                    f"oracled; sources have {len(names)} / {n_oracle}")
    m = re.search(r"^(\d+) queries: (\d+) DuckDB-oracled, (\d+) rows-only",
                  survey, re.M)
    if not m:
        errs.append("SURVEY.md: §2.10 summary line not found")
    elif (int(m.group(1)), int(m.group(2)), int(m.group(3))) != \
            (len(names), n_oracle, n_golden):
        errs.append(f"SURVEY.md §2.10 says {m.group(0)!r}; sources have "
                    f"{len(names)} / {n_oracle} / {n_golden}")
    if tests is not None:
        m = re.search(r"# (\d+) tests, (\d+) suites", readme)
        if not m:
            errs.append("README.md: test-count line not found")
        elif int(m.group(1)) != tests or \
                (suites is not None and int(m.group(2)) != suites):
            errs.append(f"README.md says {m.group(1)} tests / {m.group(2)} "
                        f"suites; sbt test ran {tests} / {suites}")
    if errs:
        for e in errs:
            print(f"[counts-gate] DRIFT: {e}", file=sys.stderr)
        sys.exit(1)
    print(f"[counts-gate] ok: {len(names)} queries = {n_oracle} oracled + "
          f"{n_golden} golden; README/SURVEY in sync"
          + (f"; {tests} tests" if tests is not None else ""))


def main():
    rows, all_oracle, golden = collect()
    print("| query | operator | verified by | defined at |")
    print("| --- | --- | --- | --- |")
    n_oracle = n_golden = 0
    for name, op, loc in sorted(rows):
        if name in golden:
            kind, n_golden = "golden (2 SF)", n_golden + 1
        elif name in all_oracle:
            kind, n_oracle = "DuckDB oracle", n_oracle + 1
        else:
            kind = "MISSING"
        print(f"| {name} | `{op}` | {kind} | `{loc}` |")
    print()
    print(f"{len(rows)} queries: {n_oracle} DuckDB-oracled, "
          f"{n_golden} rows-only golden-pinned"
          + ("" if n_oracle + n_golden == len(rows) else " — MISMATCH"))


if __name__ == "__main__":
    if "--check" in sys.argv:
        def opt(flag):
            if flag not in sys.argv:
                return None
            try:
                return int(sys.argv[sys.argv.index(flag) + 1])
            except (IndexError, ValueError):
                print("usage: query_index.py --check [--tests N --suites M]",
                      file=sys.stderr)
                sys.exit(2)
        check(tests=opt("--tests"), suites=opt("--suites"))
    else:
        main()
