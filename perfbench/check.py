"""Output checks against DuckDB oracles (untimed).

gbif_small_polygon: the CSV the product wrote is compared, as a multiset of
rows with the same header, with a DuckDB evaluation of the same config
over the same generated files (name resolution, zone test with a
ray-casting point-in-polygon replayed in the product's operation order,
children resolution, output shaping).

corpus_dedup: each gate's parquet output is compared with its
`SparkEntry.oracleSql` query: row count and an order-independent hash of
the canonicalised rows.
"""
import glob
import hashlib
import json
import os
import re

import duckdb
import pandas as pd


def connect():
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    return con


def read_config(path):
    """The flat `key : "value"` YAML the generator writes."""
    cfg = {}
    for line in open(path):
        m = re.match(r'^\s*(\w+)\s*:\s*"(.*)"\s*$', line)
        if m:
            cfg[m.group(1)] = m.group(2).replace("\\t", "\t").replace("\\n", "\n")
    return cfg


def q(s):
    return "'" + s.replace("'", "''") + "'"


def zone_sql(cfg):
    """In-zone distinct taxon keys: bbox AND point-in-polygon AND country,
    as graft.geo.GeoFunctions.zonePredicate composes them."""
    conds, ctes, join = ["true"], [], ""
    if "geometry" in cfg:
        ring = re.search(r"\(\((.*)\)\)", cfg["geometry"]).group(1)
        pts = [p.split() for p in ring.split(",")]
        xs, ys = [float(p[0]) for p in pts], [float(p[1]) for p in pts]
        dbl = lambda s: f"CAST({q(s)} AS DOUBLE)"
        edges = ", ".join(f"({dbl(a[0])}, {dbl(a[1])}, {dbl(b[0])}, {dbl(b[1])})"
                          for a, b in zip(pts, pts[1:]))
        bbox = (f"decimalLatitude BETWEEN {dbl(repr(min(ys)))} AND {dbl(repr(max(ys)))} AND "
                f"decimalLongitude BETWEEN {dbl(repr(min(xs)))} AND {dbl(repr(max(xs)))}")
        ctes.append(f"edges(x1, y1, x2, y2) AS (VALUES {edges})")
        # PointInPolygon.contains: on-segment test, then the crossing
        # parity of a +x ray; x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
        ctes.append(f"""pts AS (SELECT DISTINCT decimalLatitude AS lat, decimalLongitude AS lon
              FROM occurrence WHERE {bbox}),
            inside AS (
              SELECT lat, lon FROM pts, edges GROUP BY lat, lon
              HAVING bool_or((x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1) = 0
                       AND lon >= least(x1, x2) AND lon <= greatest(x1, x2)
                       AND lat >= least(y1, y2) AND lat <= greatest(y1, y2))
                  OR sum(CASE WHEN (y1 > lat) <> (y2 > lat)
                              AND lon < x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
                         THEN 1 ELSE 0 END) % 2 = 1)""")
        join = " JOIN inside ON decimalLatitude = lat AND decimalLongitude = lon"
    if "country" in cfg:
        conds.append(f"countryCode = {q(cfg['country'])}")
    ctes.append(f"inzone AS (SELECT DISTINCT taxonKey FROM occurrence{join} WHERE "
                + " AND ".join(conds) + ")")
    return ctes


def gbif_expected_sql(cfg, input_cols):
    unsupported = {"taxid_column", "rank_column", "taxa_rank"} & set(cfg)
    if unsupported:
        raise ValueError(f"checker does not model config keys {sorted(unsupported)}")
    name = cfg["name_column"]
    bb = "backbone" + (f" WHERE kingdom = {q(cfg['taxa_kingdom'])}" if "taxa_kingdom" in cfg else "")
    ctes = [f"""keyed AS (SELECT *, NULLIF(trim("{name}"), '') AS _nk FROM input)""",
            f"""lookup AS (
              SELECT canonicalName AS _nk,
                CASE WHEN any_value(taxonomicStatus) = 'SYNONYM' THEN any_value(acceptedKey)
                     ELSE any_value(key) END AS _taxid,
                any_value(upper(rank)) AS _rank
              FROM (SELECT * FROM {bb}) b
              WHERE canonicalName IN (SELECT _nk FROM keyed)
              GROUP BY canonicalName HAVING count(*) = 1)"""]
    ctes += zone_sql(cfg)
    ctes.append("""tagged AS (
              SELECT k.*, l._taxid, l._rank,
                CASE WHEN l._taxid IS NULL THEN NULL
                     ELSE l._taxid IN (SELECT taxonKey FROM inzone) END AS _tag
              FROM keyed k LEFT JOIN lookup l USING (_nk))""")
    cols = ", ".join(f'"{c}"' for c in input_cols)
    target = cfg.get("resolve_to_rank", "").upper()
    if target:
        target = "GENUS" if target == "GENUS" else "SPECIES"
        eligible = f"_tag AND _rank IN ('FAMILY', 'GENUS') AND _rank <> '{target}'"
        hab = f" AND upper(b.habitat) = {q(cfg['habitat'].upper())}" if cfg.get("habitat", "").upper() in (
            "TERRESTRIAL", "FRESHWATER", "MARINE") else ""
        ctes.append(f"""kids AS (
              SELECT DISTINCT p._taxid AS parent, b.key, b.canonicalName
              FROM (SELECT DISTINCT _taxid FROM tagged WHERE {eligible}) p
              JOIN (SELECT key, canonicalName, unnest(higherTaxonKeys) AS anc FROM backbone b
                    WHERE taxonomicStatus = 'ACCEPTED' AND upper(rank) = '{target}'{hab}) b
                ON b.anc = p._taxid
              WHERE b.key IN (SELECT taxonKey FROM inzone))""")
        ctes.append("""lists AS (
              SELECT parent,
                '[' || string_agg('''' || canonicalName || '''', ', ' ORDER BY canonicalName, key) || ']' AS _names,
                '[' || string_agg(CAST(key AS VARCHAR), ', ' ORDER BY canonicalName, key) || ']' AS _ids
              FROM kids GROUP BY parent)""")
        lower = target.lower()
        extra = (f', CASE WHEN {eligible} THEN l._names END AS "gbif_filter_resolved_{lower}_names"'
                 f', CASE WHEN {eligible} THEN l._ids END AS "gbif_filter_resolved_{lower}_ids"')
        src = "tagged t LEFT JOIN lists l ON t._taxid = l.parent"
    else:
        extra, src = "", "tagged t"
    return "WITH " + ",\n".join(ctes) + f"\nSELECT {cols}{extra} FROM {src} WHERE _tag"


def check_gbif(data_dir, output_dir):
    """[(name, ok, detail)] for the CSV the product wrote in filter mode."""
    cfg = read_config(os.path.join(data_dir, "config.yml"))
    sep = cfg.get("sep", ",")
    inp = os.path.join(data_dir, "input.csv")
    parts = sorted(p for p in glob.glob(os.path.join(output_dir, "part-*.csv"))
                   if os.path.getsize(p) > 0)
    if not parts:
        return [("check.output_csv", False, f"no part files in {output_dir}")]
    con = connect()
    opts = f"delim={q(sep)}, header=true, all_varchar=true, nullstr='NA', auto_detect=false"
    con.execute(f"CREATE VIEW backbone AS SELECT * FROM '{data_dir}/backbone.parquet'")
    con.execute(f"CREATE VIEW occurrence AS SELECT * FROM '{data_dir}/occurrence.parquet'")
    header = open(inp).readline().rstrip("\n").split(sep)
    colspec = "{" + ", ".join(f"{q(c)}: 'VARCHAR'" for c in header) + "}"
    con.execute(f"CREATE TABLE input AS SELECT * FROM read_csv({q(inp)}, {opts}, columns={colspec})")
    out_header = open(parts[0]).readline().rstrip("\n").split(sep)
    out_spec = "{" + ", ".join(f"{q(c)}: 'VARCHAR'" for c in out_header) + "}"
    files = "[" + ", ".join(q(p) for p in parts) + "]"
    con.execute(f"CREATE TABLE got AS SELECT * FROM read_csv({files}, {opts}, columns={out_spec})")
    con.execute("CREATE TABLE want AS " + gbif_expected_sql(cfg, header))
    want_cols = [d[0] for d in con.execute("SELECT * FROM want LIMIT 0").description]
    results = []
    results.append(("check.output_columns", want_cols == out_header,
                    "" if want_cols == out_header else f"{out_header} vs {want_cols}"))
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    results.append(("check.output_rows", n_got == n_want and n_want > 0, f"{n_got} vs {n_want}"))
    if want_cols == out_header:
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
        results.append(("check.output_values", extra == 0 and missing == 0,
                        f"{extra} unexpected, {missing} missing rows"))
    con.close()
    return results


def canon(df):
    """Sorted columns, values as repr strings, sorted rows (the oracle
    board's comparison)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v))
                          else repr(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def check_corpus(data_dir, check_dir):
    """[(name, ok, detail)] per gate: row count and canonical hash."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    results = []
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = canon(con.execute(sql).df())
            same_cols = list(got.columns) == list(want.columns)
            ok = same_cols and len(got) == len(want) and digest(got) == digest(want)
            detail = f"rows {len(got)} vs {len(want)}, hash {digest(got)} vs {digest(want)}"
        except Exception as e:  # noqa: BLE001 -- any failure is a failed check, by name
            ok, detail = False, f"{type(e).__name__}: {e}"[:300]
        results.append((f"check.{name}", ok, detail))
    con.close()
    return results
