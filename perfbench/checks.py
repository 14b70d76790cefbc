"""Correctness checks: each compares the program's outputs with values
computed apart from it, and returns a list of problems (empty = pass).
`test_checks.py` feeds each one deliberately wrong outputs."""
import json


# ------------------------------------------------------------ api_mixed

def check_api(lines, final_revision):
    """`lines`: one client's log in request order: `posted` records (the
    event it sent at index i) and responses (`append`, `get`, `page`,
    `list`, `meta`). Every GET must return what this client posted at
    that revision; every page must be exactly the contiguous slice; the
    final stream revision must equal the client's count of successful
    POSTs (`final_revision` is the revision the meta GET reported)."""
    errs, posted, committed = [], [], 0

    def same(got, want):
        return all(got.get(k) == want.get(k) for k in ("id", "source", "type", "data"))

    for rec in lines:
        kind = rec["kind"]
        if kind == "posted":
            posted.append(rec["event"])
            continue
        if not 200 <= rec["status"] < 300:
            errs.append(f"{kind} {rec['path']}: HTTP {rec['status']}")
            continue
        if kind == "append":
            committed += 1
        elif kind == "get":
            rev = int(rec["path"].rsplit("/", 1)[1])
            if rev >= committed:
                errs.append(f"get of uncommitted revision {rev}")
            elif not same(json.loads(rec["body"]), posted[rev]):
                errs.append(f"get {rev}: wrong event")
        elif kind == "page":
            q = dict(p.split("=") for p in rec["path"].split("?", 1)[1].split("&"))
            off, lim = int(q["page%5Boffset%5D"]), int(q["page%5Blimit%5D"])
            got = json.loads(rec["body"])
            want = posted[off:min(off + lim, committed)]
            if len(got) != len(want) or not all(same(g, w) for g, w in zip(got, want)):
                errs.append(f"page {off}+{lim}: not the contiguous slice")
    if final_revision != committed:
        errs.append(f"stream revision {final_revision} != {committed} successful POSTs")
    return errs


# -------------------------------------------------------- stream_ingest

def check_ingest(expected, committed, dead_letters, replay):
    """`expected`: the generator's outcome (per-stream count and amount
    total, malformed lines sent). `committed`: (stream_id, revision,
    source, id) rows read back from the store. `dead_letters`: lines in
    the dead-letter dir. `replay`: {stream_id: (count, amount)}."""
    errs = []
    want_total = sum(s["count"] for s in expected["streams"].values())
    if len(committed) != want_total:
        errs.append(f"committed {len(committed)} events, want {want_total} distinct valid")
    keys = [(r[2], r[3]) for r in committed]
    if len(set(keys)) != len(keys):
        errs.append(f"{len(keys) - len(set(keys))} (source, id) pairs committed more than once")
    revs = {}
    for r in committed:
        revs.setdefault(r[0], []).append(r[1])
    for sid, want in expected["streams"].items():
        got = sorted(revs.get(sid, []))
        if got != list(range(want["count"])):
            errs.append(f"stream {sid}: revisions are not exactly 0..{want['count'] - 1}")
    if set(revs) - set(expected["streams"]):
        errs.append(f"unexpected streams {sorted(set(revs) - set(expected['streams']))}")
    if dead_letters != expected["dead_letters"]:
        errs.append(f"{dead_letters} dead letters, want {expected['dead_letters']}")
    want_replay = {k: (v["count"], v["amount"]) for k, v in expected["streams"].items()}
    if replay != want_replay:
        errs.append("replay aggregates differ from the generator's totals")
    return errs


# ------------------------------------------------------------ query_mix

def canon(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, na_position="first", ignore_index=True,
                                kind="mergesort")


def check_query(got, exp):
    """Exact comparison of one query result with DuckDB's, columns and
    rows sorted (the rule tools/check.py applies)."""
    import pandas as pd
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{len(got)} rows != {len(exp)}"]
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [str(e).split("\n")[0]]
    return []


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_queries(tables_dir, results_dir, oracle):
    """Run each query's oracle SQL in DuckDB on the same parquet tables
    and compare with the program's result."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    errs = []
    for name, sql in sorted(oracle.items()):
        got = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
        errs += [f"{name}: {e}" for e in check_query(got, con.sql(sql).df())]
    return errs
