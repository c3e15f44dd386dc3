"""Output checks for the benchmark. Nothing here runs program code.

* ``check_mr_text``: the text applications' results against the counts the
  generator recorded while drawing the corpus, compared row by row in the
  applications' output order, plus properties every correct result has
  whatever the input: (cnt ASC, word ASC) order and sum(cnt) = tokens for
  word count, (file, lineno) order for grep, and sum(degree) = 2 x edges
  with ascending vertex ids for vertex degree.
* ``check_registry``: each registry result against its ``SparkEntry.oracleSql``
  query run in DuckDB on the same parquet tables, with the comparison from
  tools/check.py (loaded from the checkout, unmodified): same column names,
  same DuckDB types, no unproven storage class, equal canonical rows.

``python3 perfbench/check.py --selftest <run dir>`` perturbs the dumps of a
finished run and shows that every perturbation is caught.
"""
import glob
import importlib.util
import json
import os
import shutil
import sys

import duckdb

from gen_data import TABLES


def _repo_check():
    root = os.getcwd()
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tsv(path):
    with open(path, encoding="utf-8") as f:
        return [line.rstrip("\n").split("\t") for line in f]


def _compare(name, got, exp):
    if got == exp:
        return []
    bad = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), min(len(got), len(exp)))
    return [f"{name}: {len(got)} rows, expected {len(exp)}; first difference at row {bad}: "
            f"got {got[bad] if bad < len(got) else None}, "
            f"expected {exp[bad] if bad < len(exp) else None}"]


def _check_wc(results, manifest):
    problems = []
    wc = [(w, int(c)) for w, c in _tsv(os.path.join(results, "mr_wc.tsv"))]
    if any((a[1], a[0]) > (b[1], b[0]) for a, b in zip(wc, wc[1:])):
        problems.append("mr_wc: rows not in (cnt ASC, word ASC) order")
    if sum(c for _, c in wc) != manifest["tokens"]:
        problems.append(f"mr_wc: sum(cnt) = {sum(c for _, c in wc)}, tokens = {manifest['tokens']}")
    return problems + _compare("mr_wc", wc, [tuple(r) for r in manifest["wc"]])


def _check_grep(results, manifest):
    problems = []
    grep = [(os.path.basename(f), int(n), line)  # Grep's columns: file, line, lineno
            for f, line, n in _tsv(os.path.join(results, "mr_grep.tsv"))]
    if any((a[0], a[1]) >= (b[0], b[1]) for a, b in zip(grep, grep[1:])):
        problems.append("mr_grep: rows not in (file, lineno) order")
    if any(manifest["grep_term"] not in line for _, _, line in grep):
        problems.append("mr_grep: a returned line lacks the term")
    return problems + _compare("mr_grep", grep, [tuple(r) for r in manifest["grep"]])


def _check_degree(results, manifest):
    problems = []
    deg = [(int(v), int(d)) for v, d in _tsv(os.path.join(results, "mr_vertex_degree.tsv"))]
    if any(a[0] >= b[0] for a, b in zip(deg, deg[1:])):
        problems.append("mr_vertex_degree: vertex ids not strictly ascending")
    if sum(d for _, d in deg) != 2 * manifest["edges"]:
        problems.append(f"mr_vertex_degree: sum(degree) = {sum(d for _, d in deg)}, "
                        f"2 x edges = {2 * manifest['edges']}")
    return problems + _compare("mr_vertex_degree", deg, [tuple(r) for r in manifest["degree"]])


MR_CHECKS = {"mr_wc": _check_wc, "mr_grep": _check_grep, "mr_vertex_degree": _check_degree}


def check_mr_text(results, manifest, ops):
    return [p for op in ops for p in MR_CHECKS[op](results, manifest)]


def check_registry(results, data_dir, ops, tmp_dir):
    tc = _repo_check()
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = []
    for op in ops:
        sql_path = os.path.join(results, f"{op}.sql")
        if not os.path.exists(sql_path):
            problems.append(f"{op}: no result dump or no oracle")
            continue
        with open(sql_path) as f:
            sql = f.read()
        try:
            gr = con.sql(f"SELECT * FROM '{results}/{op}/*.parquet'")
            g_cols, g_tys, got = list(gr.columns), [str(t) for t in gr.types], gr.fetchall()
            er = con.sql(sql)
            e_cols, e_tys, exp = list(er.columns), [str(t) for t in er.types], er.fetchall()
        except Exception as e:  # an oracle or dump that cannot be read is a failed check
            problems.append(f"{op}: {e}")
            continue
        if sorted(g_cols) != sorted(e_cols):
            problems.append(f"{op}: columns {sorted(g_cols)} != oracle {sorted(e_cols)}")
            continue
        gt, et = dict(zip(g_cols, g_tys)), dict(zip(e_cols, e_tys))
        mism = {c: (gt[c], et[c]) for c in gt if gt[c] != et[c]}
        if mism:
            problems.append(f"{op}: type mismatch (spark, duckdb) {mism}")
            continue
        vio = {c: tc.frontier_violations(gt[c]) for c in gt if tc.frontier_violations(gt[c])}
        if vio:
            problems.append(f"{op}: unproven storage class {vio}")
            continue
        problems += _compare(op, tc.canon(got, g_cols), tc.canon(exp, e_cols))
    con.close()
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return problems


def selftest(run_dir):
    """Perturb a finished run's dumps in a copy and require each check to fail."""
    summary = json.load(open(os.path.join(run_dir, "summary.json")))
    work = os.path.join(run_dir, "selftest")
    if summary["workload"] == "mr_text":
        corpus = glob.glob(os.path.join(os.getcwd(), ".perfbench/data/corpus",
                                        f"s{summary['seed']}-*", "manifest.json"))[0]
        manifest = json.load(open(corpus))

        def edit(fname, fn):
            def apply(d):
                p = os.path.join(d, fname)
                rows = fn(_tsv(p))
                with open(p, "w") as f:
                    f.writelines("\t".join(r) + "\n" for r in rows)
            return apply
        cases = [
            ("wc: two rows swapped", edit("mr_wc.tsv", lambda r: [r[1], r[0]] + r[2:])),
            ("wc: one count off by one",
             edit("mr_wc.tsv", lambda r: r[:-1] + [[r[-1][0], str(int(r[-1][1]) + 1)]])),
            ("grep: last match dropped", edit("mr_grep.tsv", lambda r: r[:-1])),
            ("degree: one degree moved between vertices",
             edit("mr_vertex_degree.tsv", lambda r: [[r[0][0], str(int(r[0][1]) + 1)],
                                                     [r[1][0], str(int(r[1][1]) - 1)]] + r[2:])),
        ]
        run_check = lambda d: check_mr_text(d, manifest, list(MR_CHECKS))  # noqa: E731
    else:
        data = glob.glob(os.path.join(os.getcwd(), ".perfbench/data/tables-sf*"))[0]
        op = next(o for o in summary["ops"] if o.startswith("q_tpch"))

        def rewrite(sql):
            def apply(d):
                files = glob.glob(os.path.join(d, op, "*.parquet"))
                con = duckdb.connect()
                con.execute(f"COPY ({sql.format(src=files[0])}) TO '{files[0]}.tmp' (FORMAT parquet)")
                os.replace(files[0] + ".tmp", files[0])
            return apply
        cases = [
            (f"{op}: last row dropped", rewrite(
                "SELECT * FROM '{src}' LIMIT (SELECT count(*) - 1 FROM '{src}')")),
            (f"{op}: one row duplicated", rewrite(
                "SELECT * FROM '{src}' UNION ALL (SELECT * FROM '{src}' LIMIT 1)")),
        ]
        run_check = lambda d: check_registry(d, data, [op], os.path.join(work, "duck"))  # noqa: E731
    results = os.path.join(run_dir, "results")
    ok = not run_check(results)
    print(f"unperturbed dumps: {'pass' if ok else 'FAIL'}")
    for label, perturb in cases:
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(results, work)
        perturb(work)
        caught = run_check(work)
        ok &= bool(caught)
        print(f"{label}: {'caught: ' + caught[0][:160] if caught else 'NOT CAUGHT'}")
    shutil.rmtree(work, ignore_errors=True)
    return ok


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--selftest":
        sys.exit("usage: python3 perfbench/check.py --selftest <run dir>")
    sys.exit(0 if selftest(sys.argv[2]) else 1)
