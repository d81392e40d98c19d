#!/usr/bin/env python3
"""Scale-pass correctness gate: verify EVERY query at scale factors where
some equality oracles are infeasible in DuckDB (the sf1 headroom pass).

Like check_timeout.py, each oracle runs in a budgeted worker process —
but queries listed in scale_oracle_sql.json (dumped by graft.Verify from
graft.operators.ScaleOracles) use their BOUNDED check instead of the
infeasible equality oracle:

  - mode "violations": the SQL lists contract violations over the views
    `spark_out` (the query's own output), `out_<query>` (every other
    query's output in the run), and the fixture tables. PASS iff zero
    rows.
  - mode "equality": the SQL produces the full expected relation
    (composed from already-verified outputs, or recomputed from fixture
    tables via temp-table "setup" staging when the single-statement
    plan is unstable); compared frame-to-frame like check.py.
  - mode "cc": "sql" yields the (id_a, id_b) edge relation (a
    DuckDB-verified pair output), "aux" the vertex universe (column
    vid); an independent union-find here computes exact min-label
    components and EVERY spark label is compared. Complete — not
    sampled — and linear, where any SQL transitive closure is quadratic
    in the fixture's 43k-doc mega-component.

Exit is nonzero on any FAIL, any TIMEOUT (bounded oracles exist exactly
so none is tolerable), any query graft.Verify recorded as thrown in
verify_errors.json, any skipped query on a full (non-subset) Verify run,
or zero OKs.

Usage: python3 tools/check_scale.py <sfDir> <verifyOutDir> [seconds]
                [--only=name1,name2]

Run on an otherwise-idle machine: a concurrent Spark/sbt run starving
DuckDB of cores turns feasible oracles into spurious TIMEOUTs.
"""
import json, sys, glob, os, multiprocessing as mp
import duckdb
import pandas as pd
from check import verify_errors

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def connect(sf_dir, out_dir, name):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for d in sorted(glob.glob(f"{out_dir}/*")):
        q = os.path.basename(d)
        if os.path.isdir(d) and glob.glob(f"{d}/*.parquet"):
            con.execute(
                f"CREATE VIEW out_{q} AS SELECT * FROM '{d}/*.parquet'")
            if q == name:
                con.execute(
                    f"CREATE VIEW spark_out AS SELECT * FROM '{d}/*.parquet'")
    return con


def compare_frames(got, want, q):
    if list(got.columns) != list(want.columns):
        q.put(("FAIL", f"columns {list(got.columns)} vs {list(want.columns)}")); return
    if len(got) != len(want):
        q.put(("FAIL", f"rows {len(got)} vs {len(want)}")); return
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        q.put(("FAIL", "values differ: " + str(e).split("\n")[0])); return
    q.put(("OK", f"{len(got)} rows"))


def check_cc(con, check, q):
    edges = con.sql(check["sql"]).df()
    verts = con.sql(check["aux"]).df()["vid"].tolist()
    out = con.sql("SELECT * FROM spark_out").df()
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["id_a"].tolist(), edges["id_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # union by min id
    # Min member id per component root (roots are min already by the
    # union rule, but only over ids seen in edges; singletons root to
    # themselves).
    want = {v: find(v) for v in verts}
    # The vertex-id column by NAME (the one column that isn't the label),
    # not by position — a column reorder in a cluster query must not turn
    # the comparison into nonsense with a misleading failure message.
    id_cands = [c for c in out.columns if c != "canonical_id"]
    if "canonical_id" not in out.columns or len(id_cands) != 1:
        q.put(("FAIL", f"cc output needs (id, canonical_id), got {list(out.columns)}"))
        return
    id_col = id_cands[0]
    got = dict(zip(out[id_col].tolist(), out["canonical_id"].tolist()))
    if len(got) != len(out):
        q.put(("FAIL", "duplicate vertex rows in output")); return
    if set(got) != set(want):
        q.put(("FAIL", f"vertex set differs: {len(got)} vs {len(want)}")); return
    bad = [(v, got[v], want[v]) for v in want if got[v] != want[v]]
    if bad:
        q.put(("FAIL", f"{len(bad)} label mismatches, first: {bad[0]}")); return
    q.put(("OK", f"union-find over {len(edges)} edges, "
           f"{len(verts)} vertices all exact"))


def run_one(sf_dir, out_dir, name, check, q):
    try:
        con = connect(sf_dir, out_dir, name)
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            q.put(("FAIL", "no spark output")); return
        # Temp-table staging: each statement plans with exact input
        # cardinalities, pinning join orders a monolithic WITH chain
        # flips on at sf1 (the r8 prefix-pairs 20-minute plan).
        for stmt in check.get("setup", []):
            con.execute(stmt)
        if check["kind"] == "cc":
            check_cc(con, check, q); return
        if check["kind"] == "violations":
            v = con.sql(check["sql"]).df()
            if len(v):
                q.put(("FAIL", f"{len(v)} violations, first: "
                       + " ".join(str(x) for x in v.iloc[0].tolist())))
            else:
                n = con.sql("SELECT count(*) FROM spark_out").fetchone()[0]
                q.put(("OK", f"0 violations over {n} rows"))
            return
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.sql(check["sql"]).df())
        compare_frames(got, want, q)
    except Exception as e:
        q.put(("FAIL", f"oracle error: {e}"))


def trust_dag_errors(scale, verified):
    """Enforce the ScaleOracles trust DAG before anything runs.

    Every `out_<query>` reference inside a bounded check's SQL must point
    at a query verified in the same run (`verified`), and the reference
    graph AMONG bounded checks must be acyclic — a cycle would let two
    checks silently certify each other. Returns a list of error strings
    (empty = DAG ok)."""
    import re
    errors = []
    deps = {}
    for name, c in scale.items():
        refs = set(re.findall(r"\bout_([a-z0-9_]+)",
                              c.get("sql", "") + " " + c.get("aux", "")
                              + " " + " ".join(c.get("setup", []))))
        refs.discard(name)  # self-reference is the spark_out view, not trust
        deps[name] = refs
        for r in refs:
            if r not in verified:
                errors.append(f"{name} references out_{r}, which is not "
                              "verified in this run")
    # Kahn topo-sort over the bounded-check subgraph; leftovers = cycle.
    sub = {n: {r for r in rs if r in deps} for n, rs in deps.items()}
    ready = [n for n, rs in sub.items() if not rs]
    seen = set()
    while ready:
        n = ready.pop()
        seen.add(n)
        for m, rs in sub.items():
            if n in rs:
                rs.discard(n)
                if not rs and m not in seen:
                    ready.append(m)
    cyc = sorted(set(sub) - seen)
    if cyc:
        errors.append(f"trust cycle among bounded checks: {cyc}")
    return errors


def selftest():
    """Negative control for the trust-DAG gate: a planted pair of
    mutually-referencing bounded checks MUST be rejected, a planted
    dangling reference MUST be rejected, and the real acyclic shape MUST
    pass."""
    ok_scale = {
        "b": {"sql": "SELECT * FROM out_a", "aux": ""},
        "c": {"sql": "SELECT * FROM out_b JOIN out_a USING (x)", "aux": ""},
    }
    assert trust_dag_errors(ok_scale, {"a", "b", "c"}) == [], "acyclic shape flagged"
    cyc_scale = {
        "b": {"sql": "SELECT * FROM out_c", "aux": ""},
        "c": {"sql": "SELECT * FROM out_b", "aux": ""},
    }
    errs = trust_dag_errors(cyc_scale, {"b", "c"})
    assert any("cycle" in e for e in errs), f"planted cycle not caught: {errs}"
    dangling = {"b": {"sql": "SELECT * FROM out_nowhere", "aux": ""}}
    errs = trust_dag_errors(dangling, {"b"})
    assert any("not verified" in e for e in errs), f"dangling ref not caught: {errs}"
    print("selftest OK: cycle and dangling-reference controls both rejected")


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = {n for n in a.split("=", 1)[1].split(",") if n}
    sf_dir, out_dir = args[0], args[1]
    budget = int(args[2]) if len(args) > 2 else 300
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    full_names = set(oracle)  # the run's verified universe, pre --only
    if only is not None:
        oracle = {k: v for k, v in oracle.items() if k in only}
    scale_path = f"{out_dir}/scale_oracle_sql.json"
    scale = json.load(open(scale_path)) if os.path.exists(scale_path) else {}
    dag_errors = trust_dag_errors(
        {k: v for k, v in scale.items() if k in oracle}, full_names)
    if dag_errors:
        for e in dag_errors:
            print(f"TRUST-DAG {e}")
        sys.exit(1)
    errors, full_run = verify_errors(out_dir)
    counts = {"OK": 0, "FAIL": 0, "TIMEOUT": 0, "SKIP": 0}
    for name, msg in sorted(errors.items()):
        if only is None or name in only:
            print(f"FAIL   {name} (graft.Verify threw: {msg})"); counts["FAIL"] += 1
    for name in sorted(oracle):
        if name in errors:
            continue
        # The oracle map is always the full surface (graft.Verify never
        # truncates it); a query with no output dir wasn't in this run —
        # a subset run skips it, a full run fails on it below.
        if not os.path.isdir(f"{out_dir}/{name}"):
            counts["SKIP"] += 1; continue
        if name in scale:
            check = {"kind": scale[name]["mode"], "sql": scale[name]["sql"],
                     "aux": scale[name].get("aux", ""),
                     "setup": scale[name].get("setup", [])}
            tag = f"[{scale[name]['mode']}]"
        else:
            check = {"kind": "equality", "sql": oracle[name]}
            tag = ""
        q = mp.Queue()
        p = mp.Process(target=run_one, args=(sf_dir, out_dir, name, check, q))
        p.start(); p.join(budget)
        if p.is_alive():
            p.terminate(); p.join()
            print(f"TIMEOUT {name} (>{budget}s oracle)"); counts["TIMEOUT"] += 1
        else:
            status, msg = q.get() if not q.empty() else ("FAIL", "worker died")
            print(f"{status}   {name} {tag} ({msg})"); counts[status] += 1
    print(f"== {counts['OK']} ok, {counts['FAIL']} bad, {counts['TIMEOUT']} timeout, "
          f"{counts['SKIP']} skipped (no output dir) ==")
    if counts["OK"] == 0:
        print("ZERO queries verified OK — the pass proves nothing; failing.")
    skip_fails = full_run and counts["SKIP"] > 0
    if skip_fails:
        print(f"FULL run skipped {counts['SKIP']} queries (no output dir); failing.")
    sys.exit(1 if counts["FAIL"] or counts["TIMEOUT"] or counts["OK"] == 0
             or skip_fails else 0)


if __name__ == "__main__":
    main()
