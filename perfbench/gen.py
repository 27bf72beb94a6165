"""Deterministic input generators for the benchmark workloads.

Every generator takes a numpy Generator seeded from ``--seed`` and writes
plain files (parquet, CSV, YAML); the program under test receives only
those files. The same seed and sizes give byte-identical files.

GBIF model (schemas of graft.sources.Sources):
  backbone   key, canonicalName, rank, kingdom, taxonomicStatus,
             acceptedKey, higherTaxonKeys (ancestor keys), habitat
  occurrence taxonKey, decimalLatitude, decimalLongitude, countryCode,
             taxonRank
Corpus model (the operator suite's tables):
  documents  doc_id, text, lang, source, n_chars
  embeddings vec_id, embedding (float[64], unit norm), label
"""
import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KINGDOMS = ("Animalia", "Plantae", "Fungi")
KINGDOM_SHARE = (0.6, 0.3, 0.1)
SYLLABLES = ("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
             "pi", "ro", "sa", "te", "vu", "xa", "ze", "an", "el", "or",
             "us", "ix", "yr", "om", "ul", "ast", "ent", "ill", "orn", "ur")
# North-America-like box: most occurrences of "nearctic" genera land here
NA_BOX = (-130.0, 15.0, -60.0, 70.0)  # minLon, minLat, maxLon, maxLat
HABITATS = ("TERRESTRIAL", "FRESHWATER", "MARINE")


def stem(i):
    """Unique pronounceable stem for integer i (bijective base-30)."""
    out = []
    i += 30
    while i:
        i, d = divmod(i, len(SYLLABLES))
        out.append(SYLLABLES[d])
    return "".join(out)


def _list_col(offsets, values):
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(values, pa.int64()))


def country_of(lat, lon):
    """Country code from coordinates: US/CA/MX inside the N-America box,
    otherwise one of a few codes by coarse cell. Null coordinates -> null."""
    codes = np.array(["FR", "BR", "CN", "AU", "ZA", "IN", "RU", "AR"])
    cell = ((np.floor_divide(np.nan_to_num(lat) + 90, 30) * 13
             + np.floor_divide(np.nan_to_num(lon) + 180, 45)) % len(codes)).astype(int)
    cc = codes[cell].astype(object)
    in_na = ((lon >= NA_BOX[0]) & (lon <= NA_BOX[2])
             & (lat >= NA_BOX[1]) & (lat <= NA_BOX[3]))
    cc[in_na & (lat >= 49)] = "CA"
    cc[in_na & (lat < 49) & (lat >= 30)] = "US"
    cc[in_na & (lat < 30)] = "MX"
    cc[np.isnan(lat)] = None
    return cc


def gen_backbone(rng, n_families, genera_per_family, species_per_genus):
    """FAMILY -> GENUS -> SPECIES tree per kingdom, plus synonyms (with
    acceptedKey), kingdom homonyms (a genus name reused in another
    kingdom) and same-kingdom ambiguous genus names."""
    keys, names, ranks, kings, status, accepted, lineage, habitat = \
        [], [], [], [], [], [], [], []
    centers = {}   # accepted key -> (lat, lon) home of a taxon, drives occurrences
    next_key = [100]
    name_id = [0]

    def new_key():
        next_key[0] += 1 + (len(keys) * 7919) % 3
        return next_key[0]

    def add(name, rank, kingdom, anc, stat="ACCEPTED", acc=None, hab=None):
        k = new_key()
        keys.append(k); names.append(name); ranks.append(rank)
        kings.append(kingdom); status.append(stat); accepted.append(acc)
        lineage.append(anc); habitat.append(hab)
        return k

    def fresh_stem():
        name_id[0] += 1
        return stem(name_id[0])

    genus_names = {k: [] for k in KINGDOMS}
    species = []
    fam_counts = rng.multinomial(n_families, KINGDOM_SHARE)
    for kingdom, nf in zip(KINGDOMS, fam_counts):
        kk = add(kingdom, "KINGDOM", kingdom, [])
        suffix = "idae" if kingdom == "Animalia" else "aceae"
        for _ in range(nf):
            fname = fresh_stem().capitalize() + suffix
            fk = add(fname, "FAMILY", kingdom, [kk])
            if rng.random() < 0.5:
                flat, flon = rng.uniform(NA_BOX[1], NA_BOX[3]), rng.uniform(NA_BOX[0], NA_BOX[2])
            else:
                flat, flon = rng.uniform(-55, 70), rng.uniform(-180, 180)
            centers[fk] = (flat, flon)
            if rng.random() < 0.08:
                add(fresh_stem().capitalize() + suffix, "FAMILY", kingdom, [kk],
                    "SYNONYM", fk)
            for _ in range(max(1, rng.poisson(genera_per_family))):
                gname = fresh_stem().capitalize()
                gk = add(gname, "GENUS", kingdom, [kk, fk])
                genus_names[kingdom].append(gname)
                glat = float(np.clip(flat + rng.normal(0, 6), -60, 75))
                glon = float(np.clip(flon + rng.normal(0, 10), -179, 179))
                centers[gk] = (glat, glon)
                if rng.random() < 0.08:
                    add(fresh_stem().capitalize(), "GENUS", kingdom, [kk, fk],
                        "SYNONYM", gk)
                ns = max(1, rng.poisson(species_per_genus))
                u = rng.random((ns, 2))
                slat = np.clip(glat + rng.normal(0, 4, ns), -60, 75)
                slon = np.clip(glon + rng.normal(0, 6, ns), -179, 179)
                for j in range(ns):
                    hab = (HABITATS[0] if u[j, 0] < 0.54 else HABITATS[1] if u[j, 0] < 0.72
                           else HABITATS[2] if u[j, 0] < 0.9 else None)
                    sk = add(gname + " " + fresh_stem(), "SPECIES", kingdom,
                             [kk, fk, gk], hab=hab)
                    centers[sk] = (float(slat[j]), float(slon[j]))
                    species.append(sk)
                    if u[j, 1] < 0.05:
                        add(gname + " " + fresh_stem(), "SPECIES", kingdom,
                            [kk, fk, gk], "SYNONYM", sk)
    # kingdom homonyms: Animalia genus names reused as Plantae genera;
    # same-kingdom duplicates: a few Animalia genus names appear twice
    homonyms = list(rng.choice(genus_names["Animalia"],
                               size=max(1, len(genus_names["Animalia"]) // 30),
                               replace=False))
    plant_family = [k for k, r, kg in zip(keys, ranks, kings)
                    if r == "FAMILY" and kg == "Plantae"]
    kk_plant = keys[kings.index("Plantae")]
    for i, h in enumerate(homonyms):
        fk = plant_family[i % len(plant_family)]
        add(h, "GENUS", "Plantae", [kk_plant, fk])
    ambiguous = list(rng.choice([g for g in genus_names["Animalia"] if g not in set(homonyms)],
                                size=max(1, len(genus_names["Animalia"]) // 100),
                                replace=False))
    kk_anim = keys[kings.index("Animalia")]
    anim_family = [k for k, r, kg in zip(keys, ranks, kings)
                   if r == "FAMILY" and kg == "Animalia"]
    for i, a in enumerate(ambiguous):
        add(a, "GENUS", "Animalia", [kk_anim, anim_family[i % len(anim_family)]])

    offsets = np.zeros(len(lineage) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([len(x) for x in lineage])
    table = pa.table({
        "key": pa.array(keys, pa.int64()),
        "canonicalName": pa.array(names, pa.string()),
        "rank": pa.array(ranks, pa.string()),
        "kingdom": pa.array(kings, pa.string()),
        "taxonomicStatus": pa.array(status, pa.string()),
        "acceptedKey": pa.array(accepted, pa.int64()),
        "higherTaxonKeys": _list_col(offsets, [k for x in lineage for k in x]),
        "habitat": pa.array(habitat, pa.string()),
    })
    return table, centers, np.array(species, dtype=np.int64), homonyms, ambiguous


def gen_occurrence(rng, backbone, centers, species, n_occ):
    """Skewed taxonKey (92% species, the rest genus and family keys),
    coordinates around each taxon's home on a 0.1-degree grid, ~4% null
    coordinates, country derived from the coordinates."""
    keys = backbone.column("key").to_numpy()
    ranks = np.array(backbone.column("rank").to_pylist(), dtype=object)
    is_species = set(species.tolist())
    higher = np.array([k for k in centers if k not in is_species], dtype=np.int64)
    n_sp = int(n_occ * 0.92)
    # power-law skew p(r) ~ r^-0.8: the head species hold a few percent of
    # rows each, so no single taxon's location decides a seed's workload
    weights = np.arange(1, len(species) + 1, dtype=np.float64) ** -0.8
    sp_rank = rng.choice(len(species), size=n_sp, p=weights / weights.sum())
    taxon = np.concatenate([species[rng.permutation(len(species))][sp_rank],
                            higher[rng.integers(0, len(higher), size=n_occ - n_sp)]])
    home = np.array([centers[k] for k in taxon.tolist()])
    lat = np.clip(np.round((home[:, 0] + rng.normal(0, 3, n_occ)) * 10), -900, 900) / 10.0
    lon = np.clip(np.round((home[:, 1] + rng.normal(0, 4, n_occ)) * 10), -1800, 1800) / 10.0
    null = rng.random(n_occ) < 0.04
    lat[null] = np.nan
    lon[null] = np.nan
    order = rng.permutation(n_occ)
    taxon, lat, lon = taxon[order], lat[order], lon[order]
    # keys are assigned in increasing order, so searchsorted finds each row
    rank_col = ranks[np.searchsorted(keys, taxon)]
    return pa.table({
        "taxonKey": pa.array(taxon, pa.int64()),
        "decimalLatitude": pa.array(lat, pa.float64(), from_pandas=True),
        "decimalLongitude": pa.array(lon, pa.float64(), from_pandas=True),
        "countryCode": pa.array(country_of(lat, lon), pa.string()),
        "taxonRank": pa.array(rank_col, pa.string()),
    })


def polygon_wkt(n_vertices):
    """Star-shaped many-vertex ring over North America, counter-clockwise,
    closed, vertices off the 0.1-degree occurrence grid. The shape is part
    of the workload's definition, the same for every seed."""
    rng = np.random.default_rng(20261017)
    cx, cy = -100.0, 44.0
    ang = np.sort(rng.uniform(0, 2 * math.pi, n_vertices))
    rad = rng.uniform(0.55, 1.0, n_vertices)
    xs = np.round(cx + 32.0 * rad * np.cos(ang), 3) + 0.0007
    ys = np.round(cy + 20.0 * rad * np.sin(ang), 3) + 0.0007
    pts = [f"{x:.4f} {y:.4f}" for x, y in zip(xs, ys)]
    return "POLYGON ((" + ", ".join(pts + [pts[0]]) + "))"


def _names_pool(backbone, ranks_wanted, kingdom):
    """(accepted, synonym) canonical names of a kingdom at the wanted ranks."""
    names = np.array(backbone.column("canonicalName").to_pylist(), dtype=object)
    ranks = np.array(backbone.column("rank").to_pylist(), dtype=object)
    kings = np.array(backbone.column("kingdom").to_pylist(), dtype=object)
    status = np.array(backbone.column("taxonomicStatus").to_pylist(), dtype=object)
    m = np.isin(ranks, list(ranks_wanted)) & (kings == kingdom)
    return names[m & (status == "ACCEPTED")], names[m & (status == "SYNONYM")]


def _mix(rng, n, pools, shares):
    """n names drawn from pools by share; a pool of None means empty/NA."""
    which = rng.choice(len(pools), size=n, p=shares)
    out = np.empty(n, dtype=object)
    for i, pool in enumerate(pools):
        m = which == i
        if pool is None:
            out[m] = None
        else:
            out[m] = pool[rng.integers(0, len(pool), size=int(m.sum()))]
    return out


def _miss_names(n):
    return np.array(["Nonexistus " + stem(10_000_000 + i) for i in range(n)], dtype=object)


def write_csv(path, columns, sep):
    """Write string columns with a header; None is written as NA."""
    arrays = {k: pa.array(vals, pa.string()).fill_null("NA")
              for k, vals in columns.items()}
    with open(path, "wb") as f:
        f.write((sep.join(columns) + "\n").encode())
        pacsv.write_csv(pa.table(arrays), f, pacsv.WriteOptions(
            include_header=False, delimiter=sep, quoting_style="none"))


def gen_gbif(out_dir, seed, sizes):
    """Backbone + occurrence + a small ';' CSV of family/genus names and a
    YAML config (polygon zone, Animalia, children resolution to TERRESTRIAL
    species) for one seed."""
    rng = np.random.default_rng(seed)
    backbone, centers, species, homonyms, ambiguous = gen_backbone(
        rng, sizes["families"], sizes["genera_per_family"], sizes["species_per_genus"])
    occurrence = gen_occurrence(rng, backbone, centers, species, sizes["occurrences"])
    pq.write_table(backbone, os.path.join(out_dir, "backbone.parquet"), row_group_size=1 << 17)
    pq.write_table(occurrence, os.path.join(out_dir, "occurrence.parquet"), row_group_size=1 << 16)
    n = sizes["input_rows"]
    acc, syn = _names_pool(backbone, {"FAMILY", "GENUS"}, "Animalia")
    hom, amb = np.array(homonyms, dtype=object), np.array(ambiguous, dtype=object)
    names = _mix(rng, n, [acc, syn, hom, amb, _miss_names(50), None],
                 [0.72, 0.06, 0.06, 0.04, 0.07, 0.05])
    write_csv(os.path.join(out_dir, "input.csv"),
              {"otu_id": [f"OTU_{i:05d}" for i in range(n)], "taxon": names,
               "abundance": [str(v) for v in rng.integers(1, 5000, size=n)]}, ";")
    with open(os.path.join(out_dir, "config.yml"), "w") as f:
        f.write('sep : ";"\n'
                'name_column : "taxon"\n'
                'taxa_kingdom : "Animalia"\n'
                f'geometry : "{polygon_wkt(sizes["polygon_vertices"])}"\n'
                'resolve_to_rank : "SPECIES"\n'
                'habitat : "TERRESTRIAL"\n')


WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARE = (0.41, 0.15, 0.15, 0.15, 0.14)


def gen_corpus(out_dir, seed, sizes):
    """The operator suite's sf0.1 corpus distribution at a smaller row count.

    Measured in sf0.1 (5000 documents, 2000 embeddings): word counts
    uniform on 10-100 (deciles 19, 28, ..., 90), the 30 WORDS drawn
    uniformly, 5.0% near-duplicates (another document plus ' dup'), one
    exact copy per 625 documents, lang shares as LANG_SHARE, source
    src0..src19 round-robin, n_chars = len(text); embeddings 64-d, unit
    norm, per-dimension sd 0.123 (isotropic gaussian), labels 0-9 uniform.
    """
    rng = np.random.default_rng(seed)
    n = sizes["documents"]
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=int(rng.integers(10, 101)))])
             for _ in range(n)]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    exact = rng.choice(n, size=max(2, n // 625), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    lang = np.array(LANGS, dtype=object)[rng.choice(5, size=n, p=LANG_SHARE)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = sizes["embeddings"]
    v = rng.normal(size=(m, 64)).astype(np.float64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * m + 1, 64), pa.int32()),
            pa.array(v.reshape(-1), pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=m), pa.int32()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))


def describe(out_dir):
    """Input sizes (rows, bytes) and one content hash over all files."""
    h = hashlib.sha256()
    files = {}
    for name in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, name)
        if not os.path.isfile(p) or name.startswith("."):
            continue
        with open(p, "rb") as f:
            data = f.read()
        h.update(name.encode() + b"\0" + data)
        entry = {"bytes": len(data)}
        if name.endswith(".parquet"):
            entry["rows"] = pq.ParquetFile(p).metadata.num_rows
        elif name.endswith(".csv"):
            entry["rows"] = data.count(b"\n") - 1
        files[name] = entry
    return {"files": files, "sha256": h.hexdigest()}
