"""Seeded input generators for the benchmark workloads.

Everything here is a function of the seed (and of the sf0.1 extracts under
data/) alone: the same seed writes the same bytes. Ingest coordinates start
as WGS84 lon/lat inside Great Britain and are projected with
perfbench/crs.py, never with the engine's own code.
"""
import json
import os
import sqlite3
import struct
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import crs

# ---------------------------------------------------------------- ingest mix

# (name, format, crs, rows). Large files carry the row throughput; the
# small batch is where per-file fixed costs (detection, planning, schema
# inference, job launch) dominate.
LARGE_FILES = [
    ("large_lonlat_csv", "csv", "4326", 20000),
    ("large_merc_parquet", "parquet", "3857", 20000),
    ("large_bng_gpkg", "gpkg", "27700", 20000),
]
SMALL_FORMATS = [
    ("csv", "4326"), ("xlsx", "4326"), ("geojson", "4326"),
    ("gpkg", "27700"), ("shpzip", "27700"), ("fgb", "3857"),
    ("parquet", "3857"),
]
SMALL_ROWS = 400
# every CSV/xlsx row whose index is ≡ 0 mod NULL_EVERY has empty coordinates
NULL_EVERY = 97
EXT = {"csv": "csv", "xlsx": "xlsx", "geojson": "geojson", "gpkg": "gpkg",
       "shpzip": "zip", "fgb": "fgb", "parquet": "parquet"}
OSGB_PRJ = ('PROJCS["OSGB 1936 / British National Grid",GEOGCS["OSGB 1936",'
            'DATUM["OSGB_1936",SPHEROID["Airy 1830",6377563.396,299.3249646]],'
            'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
            'PROJECTION["Transverse_Mercator"],'
            'PARAMETER["latitude_of_origin",49],'
            'PARAMETER["central_meridian",-2],'
            'PARAMETER["scale_factor",0.9996012717],'
            'PARAMETER["false_easting",400000],'
            'PARAMETER["false_northing",-100000],UNIT["Meter",1]]')
# tolerances of the check (metres): 4326 and 3857 round-trip exactly up
# to float formatting; 27700 carries the Helmert transform's few-metre class
TOLERANCE_M = {"4326": 0.01, "3857": 0.01, "27700": 5.0}


def _points(rng, n):
    lon = np.round(rng.uniform(-5.5, 1.5, n), 7)
    lat = np.round(rng.uniform(50.3, 55.8, n), 7)
    ids = rng.integers(1, 10**6) * 1000 + rng.permutation(n).astype(np.int64)
    return ids.astype(np.int64), lon, lat


def _names(ids):
    return [f"site {i}" for i in ids]


def _write_csv(path, ids, lon, lat, null_mask):
    lines = ["id,name,longitude,latitude"]
    for i, x, y, nul in zip(ids.tolist(), lon.tolist(), lat.tolist(), null_mask.tolist()):
        lines.append(f"{i},site {i},," if nul else f"{i},site {i},{x:.7f},{y:.7f}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _write_xlsx(path, ids, lon, lat, null_mask):
    def s(v):
        return f'<c t="inlineStr"><is><t>{v}</t></is></c>'

    rows = [f'<row r="1">{s("id")}{s("name")}{s("longitude")}{s("latitude")}</row>']
    for r, (i, x, y, nul) in enumerate(zip(ids.tolist(), lon.tolist(), lat.tolist(),
                                            null_mask.tolist()), start=2):
        coords = "" if nul else f"<c><v>{x:.7f}</v></c><c><v>{y:.7f}</v></c>"
        rows.append(f'<row r="{r}"><c><v>{i}</v></c>{s(f"site {i}")}{coords}</row>')
    sheet = ('<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>' + "".join(rows) +
             "</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _write_geojson(path, ids, lon, lat):
    feats = [
        f'{{"type":"Feature","properties":{{"id":{i},"name":"site {i}"}},'
        f'"geometry":{{"type":"Point","coordinates":[{x:.7f},{y:.7f}]}}}}'
        for i, x, y in zip(ids.tolist(), lon.tolist(), lat.tolist())]
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}\n")


def _wkb_points(x, y):
    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    raw = rec.tobytes()
    return [raw[k * 21:(k + 1) * 21] for k in range(len(x))]


def _write_parquet(path, ids, x, y):
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": pa.array(_names(ids), pa.string()),
        "geom": pa.array(_wkb_points(x, y), pa.binary()),
    }), path)


def _write_gpkg(path, table, ids, x, y, srs):
    con = sqlite3.connect(path)
    con.executescript(f"""
        PRAGMA application_id = 1196444487;
        PRAGMA user_version = 10300;
        CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL,
          srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL,
          organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL,
          description TEXT);
        CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY,
          data_type TEXT NOT NULL, identifier TEXT UNIQUE, description TEXT DEFAULT '',
          last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE,
          max_y DOUBLE, srs_id INTEGER);
        CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL,
          column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL,
          srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL,
          CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
        CREATE TABLE {table} (fid INTEGER PRIMARY KEY AUTOINCREMENT,
          id INTEGER, name TEXT, geom BLOB);
    """)
    con.execute("INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
                (f"EPSG:{srs}", srs, "EPSG", srs, "undefined", None))
    con.execute("INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id) "
                "VALUES (?, 'features', ?, ?)", (table, table, srs))
    con.execute("INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'POINT', ?, 0, 0)",
                (table, srs))
    header = b"GP\x00\x01" + struct.pack("<i", srs)
    con.executemany(f"INSERT INTO {table} (id, name, geom) VALUES (?,?,?)",
                    [(i, f"site {i}", header + w)
                     for i, w in zip(ids.tolist(), _wkb_points(x, y))])
    con.commit()
    con.close()


def _write_shpzip(path, base, ids, x, y):
    n = len(ids)
    rec_len = 8 + 20
    bbox = struct.pack("<4d", x.min(), y.min(), x.max(), y.max())

    def header(total_bytes):
        return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, total_bytes // 2) +
                struct.pack("<2i", 1000, 1) + bbox + b"\x00" * 32)

    recs = np.zeros(n, dtype=[("no", ">i4"), ("len", ">i4"), ("t", "<i4"),
                              ("x", "<f8"), ("y", "<f8")])
    recs["no"], recs["len"], recs["t"] = np.arange(1, n + 1), 10, 1
    recs["x"], recs["y"] = x, y
    shp = header(100 + n * rec_len) + recs.tobytes()
    idx = np.zeros(n, dtype=[("off", ">i4"), ("len", ">i4")])
    idx["off"], idx["len"] = (100 + np.arange(n) * rec_len) // 2, 10
    shx = header(100 + n * 8) + idx.tobytes()
    fields = [(b"id", b"N", 10), (b"name", b"C", 16)]
    hsize = 32 + 32 * len(fields) + 1
    rsize = 1 + sum(f[2] for f in fields)
    dbf = bytearray(struct.pack("<BBBBIHH", 3, 126, 1, 1, n, hsize, rsize) + b"\x00" * 20)
    for name, kind, width in fields:
        dbf += name.ljust(11, b"\x00") + kind + b"\x00" * 4 + bytes([width, 0]) + b"\x00" * 14
    dbf += b"\x0d"
    for i in ids.tolist():
        dbf += b" " + str(i).rjust(10).encode() + f"site {i}".ljust(16).encode()
    dbf += b"\x1a"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(f"{base}.shp", shp)
        z.writestr(f"{base}.shx", shx)
        z.writestr(f"{base}.dbf", bytes(dbf))
        z.writestr(f"{base}.prj", OSGB_PRJ)


def gen_ingest(work, seed):
    """Write the ingest mix under work/in and describe it in manifest.json.

    FlatGeobuf sources are left as `<name>.fgb.points.csv` (projected
    coordinates) for the JVM side to encode with the engine's fgb writer,
    the one writer this module does not reimplement."""
    rng = np.random.default_rng([seed, 1])
    indir = os.path.join(work, "in")
    os.makedirs(indir, exist_ok=True)
    plan = [(n, f, c, r, "large") for n, f, c, r in LARGE_FILES]
    plan += [(f"small_{f}", f, c, SMALL_ROWS, "small") for f, c in SMALL_FORMATS]
    files, expect = [], []
    for name, fmt, srs, rows, size in plan:
        ids, lon, lat = _points(rng, rows)
        path = os.path.join(indir, f"{name}.{EXT[fmt]}")
        null_mask = np.zeros(rows, dtype=bool)
        if fmt in ("csv", "xlsx"):
            null_mask = (np.arange(rows) % NULL_EVERY) == 0
        if srs == "3857":
            x, y = crs.lonlat_to_3857(lon, lat)
            exp_lon, exp_lat = crs.lonlat_from_3857(x, y)
        elif srs == "27700":
            x, y = crs.lonlat_to_27700(lon, lat)
            x, y = np.round(x, 3), np.round(y, 3)
            exp_lon, exp_lat = lon, lat
        else:
            x, y, exp_lon, exp_lat = lon, lat, lon, lat
        if fmt == "csv":
            _write_csv(path, ids, lon, lat, null_mask)
        elif fmt == "xlsx":
            _write_xlsx(path, ids, lon, lat, null_mask)
        elif fmt == "geojson":
            _write_geojson(path, ids, lon, lat)
        elif fmt == "parquet":
            _write_parquet(path, ids, x, y)
        elif fmt == "gpkg":
            _write_gpkg(path, "sites", ids, x, y, int(srs))
        elif fmt == "shpzip":
            _write_shpzip(path, "sites", ids, x, y)
        elif fmt == "fgb":
            np.savetxt(path + ".points.csv", np.column_stack([ids, x, y]),
                       fmt=["%d", "%.6f", "%.6f"], delimiter=",")
        keep = ~null_mask
        files.append(dict(name=name, format=fmt, crs=srs, size=size, path=path,
                          rows=int(rows), expected_rows=int(keep.sum()),
                          id_sum=int(ids[keep].sum()),
                          tolerance_m=TOLERANCE_M[srs]))
        expect.append(pa.table({
            "file": pa.array([name] * int(keep.sum())),
            "id": pa.array(ids[keep], pa.int64()),
            "lon": pa.array(exp_lon[keep]), "lat": pa.array(exp_lat[keep])}))
    pq.write_table(pa.concat_tables(expect), os.path.join(work, "expect.parquet"))
    # a WKB column per projected CRS for the traced run's transform-kernel probe
    for srs in ("27700", "3857"):
        ids, lon, lat = _points(rng, 50000)
        f = crs.lonlat_to_27700 if srs == "27700" else crs.lonlat_to_3857
        _write_parquet(os.path.join(work, f"kernel_{srs}.parquet"), ids, *f(lon, lat))
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(files, f, indent=1)
    return files


# ---------------------------------------------------------------- sf0.1 extracts

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def gen_corpus(work, seed, n_docs):
    """documents.parquet: a seeded sample of n_docs rows of the sf0.1
    documents table (data/documents.parquet), doc ids and row order kept.

    The sample is stratified so it keeps the table's duplicate density: the
    documents whose text occurs more than once (8 pairs in sf0.1, what the
    dedup operators exist to find) are drawn as whole groups, as many groups
    as their share of the table gives n_docs (at least one), and the rest
    are drawn from the other documents."""
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    rng = np.random.default_rng([seed, 2])
    by_text = {}
    for row, text in enumerate(docs.column("text").to_pylist()):
        by_text.setdefault(text, []).append(row)
    groups = [g for g in by_text.values() if len(g) > 1]
    take = max(1, round(len(groups) * n_docs / docs.num_rows))
    picked = [r for k in rng.choice(len(groups), take, replace=False) for r in groups[k]]
    rest = np.setdiff1d(np.arange(docs.num_rows), [r for g in groups for r in g])
    rows = np.sort(np.concatenate(
        [picked, rng.choice(rest, n_docs - len(picked), replace=False)]).astype(np.int64))
    pq.write_table(docs.take(rows), os.path.join(work, "documents.parquet"))


def gen_lineitem_pool(work, seed):
    """lineitem_pool.parquet: the sf0.1 lineitem sample (data/) in a seeded
    order; table_dml's rows are drawn from it in that order."""
    lineitem = pq.read_table(os.path.join(DATA, "lineitem_sample.parquet"))
    order = np.random.default_rng([seed, 3]).permutation(lineitem.num_rows)
    pq.write_table(lineitem.take(order), os.path.join(work, "lineitem_pool.parquet"))
