"""Output checks made apart from the engine, outside the timed region.

* ingest_files: per file, the landed rows, an id checksum and every point's
  distance from the lon/lat the generator started from (expect.parquet).
* table_dml: every table version's live files against the benchmark's
  key → row model.
* llm_operators: each query's result against DuckDB's run of the query's
  declared oracle SQL over the same parquet corpus (tools/check_oracle.py).
"""
import contextlib
import glob
import io
import json
import os
import sys

import duckdb
import numpy as np

import crs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle as oracle_parity  # noqa: E402


def _parquet(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {d}")
    return f"read_parquet({files!r})"


def check_ingest(work):
    errors = []
    files = json.load(open(os.path.join(work, "manifest.json")))
    outputs = json.load(open(os.path.join(work, "outputs.json")))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW expect AS SELECT * FROM read_parquet("
                f"'{os.path.join(work, 'expect.parquet')}')")
    for f in files:
        name = f["name"]
        try:
            src = _parquet(outputs[name])
        except (KeyError, FileNotFoundError) as e:
            errors.append(f"{name}: {e}")
            continue
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        wkt = [c for c in cols if c.endswith("_wkt")]
        if len(wkt) != 1:
            errors.append(f"{name}: expected one *_wkt column, got {cols}")
            continue
        n, id_sum = con.execute(
            f"SELECT count(*), sum(CAST(id AS BIGINT)) FROM {src}").fetchone()
        if n != f["expected_rows"] or id_sum != f["id_sum"]:
            errors.append(f"{name}: rows/id-sum {n}/{id_sum}, "
                          f"expected {f['expected_rows']}/{f['id_sum']}")
            continue
        got = con.execute(f"""
            SELECT e.lon, e.lat,
                   CAST(regexp_extract(o.w, '^POINT \\(([^ ]+) ', 1) AS DOUBLE),
                   CAST(regexp_extract(o.w, ' ([^ ]+)\\)$', 1) AS DOUBLE)
            FROM expect e JOIN (SELECT CAST(id AS BIGINT) AS id, "{wkt[0]}" AS w
                                FROM {src}) o USING (id)
            WHERE e.file = '{name}'""").fetchnumpy()
        lon, lat, x, y = (np.asarray(got[k], dtype=float) for k in list(got))
        if len(lon) != f["expected_rows"]:
            errors.append(f"{name}: {len(lon)} ids match the generator's, "
                          f"expected {f['expected_rows']}")
            continue
        d = crs.ground_distance_m(lon, lat, x, y)
        worst = float(np.nanmax(d)) if len(d) else 0.0
        if np.isnan(d).any() or worst > f["tolerance_m"]:
            errors.append(f"{name}: a point lands {worst:.3f} m from its source "
                          f"(tolerance {f['tolerance_m']} m, EPSG:{f['crs']})")
    return errors


def check_versions(work):
    """Each table version's live files, read by DuckDB, against the model."""
    errors = []
    con = duckdb.connect()
    for v in json.load(open(os.path.join(work, "versions.json"))):
        n, sk, sq, sp = con.execute(
            f"SELECT count(*), sum(key), sum(l_quantity), sum(l_extendedprice) "
            f"FROM read_parquet({v['files']!r})").fetchone()
        if (n, sk, sq) != (v["rows"], v["sum_key"], v["sum_quantity"]) or \
                abs(sp - v["sum_price"]) > 1e-6 * abs(v["sum_price"]):
            errors.append(f"version {v['version']}: files hold ({n}, {sk}, {sq}, {sp}), "
                          f"model ({v['rows']}, {v['sum_key']}, {v['sum_quantity']}, "
                          f"{v['sum_price']})")
    return errors


def check_oracle(work):
    """Each query's result against DuckDB's run of its oracle, by the repo's
    own parity rule (tools/check_oracle.py, run as it is), plus a check that
    no result is empty, where parity would prove nothing."""
    results = os.path.join(work, "results")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        code = oracle_parity.main(work, results)
    lines = log.getvalue().splitlines()
    errors = [line for line in lines if line.startswith("FAIL")]
    con = duckdb.connect()
    for name in sorted(oracle):
        if not any(line.startswith((f"PASS  {name} ", f"FAIL {name}:")) for line in lines):
            errors.append(f"{name}: no verdict from check_oracle: {lines}")
        elif con.execute(f"SELECT count(*) FROM {_parquet(os.path.join(results, name))}"
                         ).fetchone()[0] == 0:
            errors.append(f"{name}: empty result, the check would prove nothing")
    if code != 0 and not errors:
        errors.append(f"check_oracle exited {code}: {lines}")
    return errors
