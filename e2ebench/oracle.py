"""Output checks for board_hot that run after the JVM.

The warm-up pass's sf0.001 results are compared with the DuckDB oracle SQL
that graft.SparkEntry declares for each query: columns sorted by name, rows
sorted by every column, exact typed values. The timed sf0.02 pass reports an
order-insensitive digest per query, which must equal the digest committed
in expected/board.json for the seed's input variant. Those digests were
recorded by runs whose warm-up passed the oracle, together with the digest
of gen_board.py they were made from; when that file has changed since, or the
variant has no digests, every query counts as a failed check.
"""
import glob
import hashlib
import json
import os
from pathlib import Path

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")
GEN = Path(__file__).resolve().parent / "gen_board.py"


def generator_digest():
    return hashlib.sha256(GEN.read_bytes()).hexdigest()


def oracle_mismatches(tables, results, oracle_sql, scratch):
    """Queries whose Spark output differs from the oracle's, with a reason."""
    con = duckdb.connect()
    con.sql("SET threads=1")
    con.sql(f"SET temp_directory='{scratch}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = {}
    for name, sql in oracle_sql.items():
        files = glob.glob(f"{results}/{name}/*.parquet")
        if not files:
            bad[name] = "no Spark output"
            continue
        s = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        o = con.sql(sql).df()
        s, o = s[sorted(s.columns)], o[sorted(o.columns)]
        if list(s.columns) != list(o.columns) or len(s) != len(o):
            bad[name] = f"shape {list(s.columns)}x{len(s)} vs {list(o.columns)}x{len(o)}"
            continue
        if any(s[c].dtype != o[c].dtype for c in s.columns):
            bad[name] = "dtypes differ"
            continue
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
        if not s.equals(o):
            bad[name] = "values differ"
    return bad


def check_board(res, rundir, expected_file, variant, record):
    """Adds the oracle and digest comparisons to res's op counts. With
    `record`, writes the variant's digests to `expected_file` instead of
    comparing, if the run is otherwise clean."""
    warm = rundir / "work" / "warm"
    oracle_sql = json.loads((warm / "oracle_sql.json").read_text())
    bad = oracle_mismatches(rundir / "in" / "board" / "warm", warm / "out",
                            oracle_sql, rundir / "duckdb-tmp")
    res["attempted"] += len(oracle_sql)
    res["failed"] += len(bad)
    res["failures"] += [f"oracle {q}: {why}" for q, why in sorted(bad.items())]

    digests = res["detail"]["board_digest"]
    expected = (json.loads(expected_file.read_text())
                if expected_file.exists() else {"generator_sha256": None, "variants": {}})
    if record:
        if res["failed"] or len(oracle_sql) != len(digests):
            raise SystemExit("e2ebench: not recording digests of a run with "
                             f"failures: {res['failures']}")
        if expected["generator_sha256"] != generator_digest():
            expected = {"generator_sha256": generator_digest(), "variants": {}}
        expected["variants"][str(variant)] = dict(sorted(digests.items()))
        expected["variants"] = dict(sorted(expected["variants"].items(),
                                           key=lambda kv: int(kv[0])))
        tmp = expected_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(expected, indent=1) + "\n")
        os.replace(tmp, expected_file)
        return
    res["attempted"] += len(digests)
    if expected["generator_sha256"] != generator_digest():
        why = "gen_board.py differs from the one the expected digests were made with"
    elif str(variant) not in expected["variants"]:
        why = f"no expected digests for input variant {variant}"
    else:
        want = expected["variants"][str(variant)]
        for q, d in digests.items():
            if want.get(q) != d:
                res["failed"] += 1
                res["failures"].append(f"digest {q}: {d} != {want.get(q)}")
        return
    res["failed"] += len(digests)
    res["failures"].append(f"digests: {why}")
