#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver:
run Verify.scala output (parquet per query) against DuckDB running
oracle_sql.json on the same sf tables; compare value-exact after
sorting columns by name and rows by value. Approximate queries with
no exact oracle are checked against exact DuckDB truth within the
bound their sketch guarantees (TRUTH).

Usage: python3 tools/check.py <sfdir> <verify_outdir>
"""
import sys, os, json, math


TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out

# q_distinct_hll runs GraftFunctions.hllDistinct at its default p=14
# (m = 2^14 registers): standard error 1.04/sqrt(m); allow three
HLL_REL_ERR = 3 * 1.04 / math.sqrt(2 ** 14)
# quantile sketches at accuracy/compression 100: rank error <= 1/100
RANK_ERR = 0.01


def truth_hll(con, sfdir, qdir):
    """Worst relative error of est_users vs exact count(DISTINCT)."""
    rows = con.execute(f"""
        SELECT g.event_type, g.est_users, t.n
        FROM '{qdir}/*.parquet' g
        FULL JOIN (SELECT event_type, count(DISTINCT user_id) AS n
                   FROM '{sfdir}/events.parquet' GROUP BY 1) t
          USING (event_type)""").fetchall()
    if any(est is None or n is None for _, est, n in rows):
        return math.inf, f"group sets differ: {rows}"
    errs = [(abs(est - n) / n, k, est, n) for k, est, n in rows]
    err, k, est, n = max(errs)
    return err, f"{k}: est {est} vs exact {n}"


def truth_quantiles(con, sfdir, qdir):
    """Worst rank error of p50/p90/p99: the distance from q to the rank
    interval [#(x < v), #(x <= v)] / n of each estimate v in its
    source's exact n_chars."""
    est = con.execute(f"SELECT source, p50, p90, p99 FROM '{qdir}/*.parquet'").fetchall()
    vals = {}
    for src, x in con.execute(f"SELECT source, n_chars FROM '{sfdir}/documents.parquet'").fetchall():
        vals.setdefault(src, []).append(x)
    if {r[0] for r in est} != set(vals):
        return math.inf, "group sets differ"
    worst = (0.0, "")
    for src, *ps in est:
        xs, n = vals[src], len(vals[src])
        for q, v in zip((0.5, 0.9, 0.99), ps):
            lo = sum(x < v for x in xs) / n
            hi = sum(x <= v for x in xs) / n
            worst = max(worst, (max(0.0, lo - q, q - hi), f"{src} q={q}: {v}"))
    return worst


# query -> (bound text, bound, check returning (error, worst case))
TRUTH = {
    "q_distinct_hll": (
        "rel. error <= 3 * 1.04/sqrt(2^14) = 2.44% vs count(DISTINCT user_id)",
        HLL_REL_ERR, truth_hll),
    "q_quantiles_tdigest": (
        "rank error <= 0.01 vs the group's sorted n_chars",
        RANK_ERR, truth_quantiles),
}


def main(sfdir, outdir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(os.listdir(outdir)):
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            continue
        got = con.execute(f"SELECT * FROM '{qdir}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if name not in oracles:
            print(f"[rows-only] {name}: {len(grows)} rows")
            if name in TRUTH:
                text, bound, fn = TRUTH[name]
                err, worst = fn(con, sfdir, qdir)
                if err <= bound:
                    n_ok += 1
                    print(f"[truth-ok ] {name}: worst {err:.4f} ({worst}); {text}")
                else:
                    n_bad += 1
                    print(f"[FAIL-trth] {name}: worst {err:.4f} ({worst}); {text}")
            continue
        try:
            exp = con.execute(oracles[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:
            print(f"[FAIL-sql ] {name}: oracle errored: {e}")
            n_bad += 1
            continue
        gtypes = sorted((d[0], str(d[1])) for d in got.description)
        etypes = sorted((d[0], str(d[1])) for d in exp.description)
        gc, gr = canon(gcols, grows)
        ec, er = canon(ecols, erows)
        if gc != ec:
            print(f"[FAIL-cols] {name}: spark={gc} duckdb={ec}")
            n_bad += 1
        elif gtypes != etypes:
            print(f"[FAIL-type] {name}: spark={gtypes} duckdb={etypes}")
            n_bad += 1
        elif gr != er:
            n_bad += 1
            diff = [(a, b) for a, b in zip(gr, er) if a != b]
            only_g = [r for r in gr if r not in set(map(tuple, er))][:3]
            only_e = [r for r in er if r not in set(map(tuple, gr))][:3]
            print(f"[FAIL-rows] {name}: spark_rows={len(gr)} duck_rows={len(er)} "
                  f"first_diffs={diff[:2]} only_spark={only_g[:2]} only_duck={only_e[:2]}")
        else:
            n_ok += 1
            print(f"[ok       ] {name}: {len(gr)} rows")
    print(f"== {n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
