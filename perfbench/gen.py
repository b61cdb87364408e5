"""Seeded synthetic inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.

* Occurrence CSVs (one per data resource) in Darwin Core headers, with the
  skew the processors care about: Zipf-distributed species, repeated
  coordinates, the FIXTURES.md date-format matrix and variant spellings of
  vocabulary values. The hybrid chain and the sampling join do work per
  DISTINCT value, so the number of distinct values per record matters as
  much as the record count.
* `pipeline.Dimensions` tables as Parquet: data resources, contextual
  polygons (a state layer and a finer region layer) and an environmental
  grid.
* TPC-H-shaped relational tables (plus events, documents, embeddings) for
  the registry queries, in the schemas `biocache_store_spark.io` reads.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# south-east Australia: the sites, both polygon layers and the el grid all
# sit inside this bounding box, so every layer is hit and the grid stays small
LAT_MIN, LAT_MAX = -39.0, -28.0
LON_MIN, LON_MAX = 140.0, 154.0
EL_RESOLUTION = 0.1

# raw basisOfRecord spelling -> the canonical value the index must carry
# (None: unrecognised, so the index field is null)
BASIS_OF_RECORD = {
    "PreservedSpecimen": "PreservedSpecimen",
    "preserved_specimen": "PreservedSpecimen",
    "Preserved specimen": "PreservedSpecimen",
    "S": "PreservedSpecimen",
    "HumanObservation": "HumanObservation",
    "human observation": "HumanObservation",
    "O": "HumanObservation",
    "MachineObservation": "MachineObservation",
    "machine observation": "MachineObservation",
    "FossilSpecimen": "FossilSpecimen",
    "fossil": "FossilSpecimen",
    "LivingSpecimen": "LivingSpecimen",
    "MaterialSample": "MaterialSample",
    "garbage": None,
    "": None,
}
# weights follow a real portal: observations dominate
_BOR_WEIGHTS = np.array([30, 4, 3, 2, 60, 5, 3, 8, 2, 1, 1, 2, 2, 2, 5], float)

_STATES = [
    # (canonical, variant spellings) -- blank means "resolve from the layer"
    ("New South Wales", ["New South Wales", "NSW", "new south wales", ""]),
    ("Victoria", ["Victoria", "Vic", "VIC", ""]),
    ("Queensland", ["Queensland", "QLD", ""]),
    ("South Australia", ["South Australia", "SA", ""]),
]
_DATE_FORMATS = (
    "iso", "dmy", "mon_year", "year_range", "iso_range", "iso_ts", "two_digit", "empty"
)
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_OCC_STATUS = ["present", "Present", "absent", ""]
_ESTABLISHMENT = ["native", "naturalised; indigenous", "Introduced", ""]
_TYPE_STATUS = ["", "", "", "", "holotype", "HOLOTYPUS material", "paratype"]
_DATUMS = ["WGS84", "WGS84", "GDA94", "EPSG:4326", "AGD66", "datum?"]
_UNCERTAINTY = ["", "10", "100", "100m", "1000", "2500"]
_SEX = ["", "male", "Female", "M", "unknown"]
_LIFE_STAGE = ["", "adult", "Juvenile", "egg"]
_SURNAMES = ["Smith", "O'Loughlin", "Nguyen", "Brown", "Wilson", "Taylor", "Martin"]

OCCURRENCE_COLUMNS = [
    "occurrenceID", "catalogNumber", "institutionCode", "collectionCode",
    "basisOfRecord", "scientificName", "kingdom", "vernacularName",
    "eventDate", "year", "month", "day",
    "decimalLatitude", "decimalLongitude", "geodeticDatum",
    "coordinateUncertaintyInMeters", "stateProvince", "country", "locality",
    "recordedBy", "occurrenceStatus", "establishmentMeans", "typeStatus",
    "individualCount", "sex", "lifeStage",
]


def zipf_indices(rng: np.random.Generator, n: int, k: int, a: float) -> np.ndarray:
    """n draws from a Zipf(a) law truncated to ranks 0..k-1."""
    w = 1.0 / np.arange(1, k + 1) ** a
    return rng.choice(k, size=n, p=w / w.sum())


def resource_uid(i: int) -> str:
    return f"dr{100 + i}"


_ONSETS = "b c d f g h k l m n p r s t v z br cr gr pl st tr".split()
_VOWELS = "a e i o u ae ia".split()


def _latin(i: int, suffix: str) -> str:
    """A pronounceable Latin-looking word, distinct for each i. The name
    matcher's fuzzy tier blocks on the genus's first four letters, so the
    stems must spread the way real genera do."""
    parts = []
    for _ in range(3):
        i, o = divmod(i, len(_ONSETS))
        i, v = divmod(i, len(_VOWELS))
        parts.append(_ONSETS[o] + _VOWELS[v])
    return "".join(parts) + suffix


def species_names(n_taxa: int) -> list[str]:
    n_genera = max(1, n_taxa // 6)
    genera = [_latin(g * 7919 % 1_000_003, "us").capitalize() for g in range(n_genera)]
    return [f"{genera[i % n_genera]} {_latin(i * 104_729 % 1_000_003, 'is')}" for i in range(n_taxa)]


class Universe:
    """The seeded world every resource draws from: a species list and a
    pool of collecting sites. Resources share both, as real providers do."""

    def __init__(self, seed: int, n_taxa: int = 3000, n_sites: int = 20000):
        rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.taxa = species_names(n_taxa)
        self.site_lat = rng.uniform(LAT_MIN + 0.05, LAT_MAX - 0.05, n_sites)
        self.site_lon = rng.uniform(LON_MIN + 0.05, LON_MAX - 0.05, n_sites)
        # varying precision 1..6 decimal places, as providers publish them
        self.site_places = rng.integers(1, 7, n_sites)


def _event_date(rng: np.random.Generator, fmt: str) -> tuple[str, str, str, str]:
    y = int(rng.integers(1950, 2024))
    m = int(rng.integers(1, 13))
    d = int(rng.integers(1, 29))
    if fmt == "iso":
        return f"{y:04d}-{m:02d}-{d:02d}", str(y), str(m), str(d)
    if fmt == "dmy":
        return f"{d:02d}/{m:02d}/{y:04d}", "", "", ""
    if fmt == "mon_year":
        return f"{_MONTHS[m - 1]} {y}", "", "", ""
    if fmt == "year_range":
        return f"{y}-{y + 1}", "", "", ""
    if fmt == "iso_range":
        return f"{d:02d}-{m:02d}-{y}/{d:02d}-{m:02d}-{y + 1}", "", "", ""
    if fmt == "iso_ts":
        return f"{y:04d}-{m:02d}-{d:02d}T10:30:00Z", "", "", ""
    if fmt == "two_digit":
        return f"{d:02d}/{m:02d}/{y % 100:02d}", "", "", ""
    # year/month/day columns only, day/month transposed now and then
    if rng.random() < 0.2 and d <= 12:
        return "", str(y), str(d + 12 if d + 12 <= 28 else m), str(m)
    return "", str(y), str(m), str(d)


def write_occurrences(universe: Universe, resource: int, n: int, path: str) -> dict:
    """One resource's DwC CSV; returns the ground truth the index must match:
    the record count and the basis_of_record facet."""
    rng = np.random.default_rng([universe.seed, 2, resource])
    uid = resource_uid(resource)
    species = zipf_indices(rng, n, len(universe.taxa), 1.1)
    sites = zipf_indices(rng, n, len(universe.site_lat), 0.8)
    bor_keys = list(BASIS_OF_RECORD)
    bor = rng.choice(len(bor_keys), size=n, p=_BOR_WEIGHTS / _BOR_WEIGHTS.sum())
    date_fmt = rng.choice(len(_DATE_FORMATS), size=n)
    facet: dict[str | None, int] = {}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(OCCURRENCE_COLUMNS)
        for i in range(n):
            s = int(sites[i])
            places = int(universe.site_places[s])
            lat = f"{universe.site_lat[s]:.{places}f}"
            lon = f"{universe.site_lon[s]:.{places}f}"
            roll = rng.random()
            if roll < 0.01:
                lat, lon = "", ""
            elif roll < 0.015:
                lat, lon = lon, lat  # swapped
            elif roll < 0.018:
                lat, lon = "0", "0"
            _, variants = _STATES[s % len(_STATES)]
            raw_state = variants[int(rng.integers(len(variants)))]
            event, yy, mm, dd = _event_date(rng, _DATE_FORMATS[int(date_fmt[i])])
            name = universe.taxa[int(species[i])]
            if rng.random() < 0.02:
                name = name.upper()  # case variant
            elif rng.random() < 0.01:
                name = f"Unknownus sp{int(rng.integers(50))}"
            raw_bor = bor_keys[int(bor[i])]
            facet[BASIS_OF_RECORD[raw_bor]] = facet.get(BASIS_OF_RECORD[raw_bor], 0) + 1
            surname = _SURNAMES[int(rng.integers(len(_SURNAMES)))]
            collector = (
                f"{surname}, J." if rng.random() < 0.5 else f"J. {surname}"
            )
            w.writerow([
                f"urn:occ:{uid}:{i}",
                f"C{int(rng.integers(n // 2 + 1))}",
                "INST", f"COLL{resource % 3}",
                raw_bor, name, "Animalia" if species[i] % 5 else "", "",
                event, yy, mm, dd,
                lat, lon, _DATUMS[i % len(_DATUMS)],
                _UNCERTAINTY[int(rng.integers(len(_UNCERTAINTY)))],
                raw_state, "Australia" if rng.random() < 0.5 else "",
                f"site {s}",
                collector,
                _OCC_STATUS[int(rng.integers(len(_OCC_STATUS)))],
                _ESTABLISHMENT[int(rng.integers(len(_ESTABLISHMENT)))],
                _TYPE_STATUS[int(rng.integers(len(_TYPE_STATUS)))],
                str(int(rng.integers(1, 20))) if rng.random() < 0.7 else "",
                _SEX[int(rng.integers(len(_SEX)))],
                _LIFE_STAGE[int(rng.integers(len(_LIFE_STAGE)))],
            ])
    return {"uid": uid, "path": path, "records": n, "basis_of_record": facet}


def _rect(lon0: float, lat0: float, lon1: float, lat1: float) -> str:
    return (
        f"POLYGON(({lon0} {lat0}, {lon1} {lat0}, {lon1} {lat1}, "
        f"{lon0} {lat1}, {lon0} {lat0}))"
    )


def write_dimensions(universe: Universe, n_resources: int, out_dir: str) -> dict:
    """Dimension tables as Parquet files; returns {name: path}."""
    rng = np.random.default_rng([universe.seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    def write(name: str, table: pa.Table) -> None:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])

    write("data_resources", pa.table({
        "dataResourceUid": [resource_uid(i) for i in range(n_resources)],
        "dataResourceName": [f"Resource {i}" for i in range(n_resources)],
        "dataProviderUid": [f"dp{i % 4}" for i in range(n_resources)],
        "dataProviderName": [f"Provider {i % 4}" for i in range(n_resources)],
        "dataHubUid": [[f"dh{i % 2}"] for i in range(n_resources)],
    }))
    # cl22: four state-sized quadrants named after the states; cl_region: a
    # 7x5 grid of finer regions (more polygons per point to test)
    layer, names, wkts = [], [], []
    mid_lat, mid_lon = (LAT_MIN + LAT_MAX) / 2, (LON_MIN + LON_MAX) / 2
    quads = [
        (mid_lon, mid_lat, LON_MAX, LAT_MAX), (mid_lon, LAT_MIN, LON_MAX, mid_lat),
        (LON_MIN, mid_lat, mid_lon, LAT_MAX), (LON_MIN, LAT_MIN, mid_lon, mid_lat),
    ]
    for (state, _), q in zip(_STATES, quads):
        layer.append("cl22")
        names.append(state)
        wkts.append(_rect(*q))
    nx, ny = 7, 5
    dx, dy = (LON_MAX - LON_MIN) / nx, (LAT_MAX - LAT_MIN) / ny
    for ix in range(nx):
        for iy in range(ny):
            layer.append("cl_region")
            names.append(f"Region {ix}-{iy}")
            wkts.append(_rect(
                round(LON_MIN + ix * dx, 4), round(LAT_MIN + iy * dy, 4),
                round(LON_MIN + (ix + 1) * dx, 4), round(LAT_MIN + (iy + 1) * dy, 4),
            ))
    write("cl_layers", pa.table({"layerID": layer, "name": names, "wkt": wkts}))
    lat_bins = np.round(np.arange(LAT_MIN, LAT_MAX, EL_RESOLUTION), 1)
    lon_bins = np.round(np.arange(LON_MIN, LON_MAX, EL_RESOLUTION), 1)
    glat, glon = np.meshgrid(lat_bins, lon_bins, indexing="ij")
    cells = glat.size
    el = {"layerID": [], "lat_bin": [], "lon_bin": [], "value": []}
    for lid, scale in (("el_temp", 30.0), ("el_rain", 2000.0)):
        el["layerID"] += [lid] * cells
        el["lat_bin"].append(glat.ravel())
        el["lon_bin"].append(glon.ravel())
        el["value"].append(np.round(rng.random(cells) * scale, 2))
    write("el_layers", pa.table({
        "layerID": el["layerID"],
        "lat_bin": np.concatenate(el["lat_bin"]),
        "lon_bin": np.concatenate(el["lon_bin"]),
        "value": np.concatenate(el["value"]),
    }))
    return paths


# --------------------------------------------------------------- relational

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small customer query big stream "
    "group filter"
).split()
_ADJ = ["small", "red", "large", "blue", "green", "steel", "brass", "tiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
_PTYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]


def _ts(rng, n, start, span_days) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days * 86_400_000_000, n)
    return base + offs.astype("timedelta64[us]")


def write_relational(seed: int, sf: float, out_dir: str) -> None:
    """TPC-H-shaped tables at scale factor `sf` (lineitem ~6M x sf rows),
    one Parquet file per table named as `biocache_store_spark.io.TABLES`."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()
    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(_ADJ), n_part),
                            rng.integers(0, len(_NOUN), n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1992-01-01", 3650).astype("datetime64[D]")
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, "1992-01-01", 3650).astype("datetime64[D]")
        .astype("datetime64[us]"),
    })
    ts = np.sort(_ts(rng, n_events, "2024-01-01", 30))
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, n_events // 200), n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i and rng.random() < 0.1:
            # a near-duplicate of an earlier document, one word changed
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(20, 60))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 5, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (8, 64))
    labels = rng.integers(0, 8, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.5, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
