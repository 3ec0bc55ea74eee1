"""Seeded input generators for the benchmark.

Everything the program reads comes from here, derived only from the
workload seed: the same seed writes byte-identical files, another seed
changes them. Sizes are fixed per workload and never depend on the seed,
so run-to-run differences come from the program, not the inputs.

Two input families:

- ``star_schema``: the TPC-H-shaped tables plus ``events``, ``documents``
  and ``embeddings``, with the schema, row counts and value distributions
  of the repository's sf0.01 test fixtures (``compare_fixtures.py``
  measures both side by side). The fact tables are replicated with
  shifted keys into multi-file parquet directories, the pattern
  ``scripts/stress.py:materialize`` uses to scale the fixtures.
- ``ncsbe_cycles``: NCSBE-shaped raw files for the reference ETL job — a
  zipped LATIN1 ``ncvoter`` TSV with spaced headers, zipped UTF-16
  ``VR_Snapshot_*`` vintages with the quotequote pathologies and
  overlapping voters, and one object-version manifest per cycle with
  non-matching keys, superseded versions and pseudo-directories.
"""

from __future__ import annotations

import json
import os
import zipfile
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- star schema --------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table) so tables do not shift
    when another table's draw count changes."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, files: int = 1) -> int:
    """Write one table as a single file, or a directory of ``files`` part
    files split into contiguous row ranges; returns bytes on disk."""
    if files == 1:
        pq.write_table(table, path, compression="snappy")
        return os.path.getsize(path)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    total = 0
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), part, compression="snappy")
        total += os.path.getsize(part)
    return total


@dataclass(frozen=True)
class StarScale:
    """Row counts of one star-schema generation. ``replicas`` copies of
    the fact tables (orders, lineitem) are written with keys shifted by
    a multiple of the base order count, one part file per copy."""

    customers: int = 1_500
    suppliers: int = 100
    parts: int = 2_000
    orders: int = 15_000
    lineitems: int = 60_000
    events: int = 10_000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dim: int = 64
    replicas: int = 1


def _base_tables(seed: int, s: StarScale) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    n = s.customers
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
        }
    )
    r = _rng(seed, "supplier")
    n = s.suppliers
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n),
        }
    )
    r = _rng(seed, "part")
    n = s.parts
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n)], " "),
        np.array(PART_NOUN)[r.integers(0, 8, n)],
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n)],
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
        }
    )
    r = _rng(seed, "orders")
    n = s.orders
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, s.customers, n), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _money(r, 1000, 500_000, n),
            "o_orderdate": _EPOCH_1995 + r.integers(0, 2404, n) * _DAY_US,
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        }
    )
    r = _rng(seed, "lineitem")
    n = s.lineitems
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, s.orders, n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, s.parts, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, s.suppliers, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
            "l_shipdate": _EPOCH_1995 + r.integers(1, 2499, n) * _DAY_US,
        }
    )
    r = _rng(seed, "events")
    n = s.events
    ts = np.sort(r.integers(0, 30 * _DAY_US, n))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _EPOCH_2024 + ts,
            "user_id": pa.array(r.integers(0, s.users, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(_rng(seed, "documents"), s.documents)
    r = _rng(seed, "embeddings")
    n = s.embeddings
    vec = r.standard_normal((n, s.dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n), pa.int32()),
        }
    )
    return t


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-100 tokens drawn uniformly from a
    30-word vocabulary; one in twenty is an earlier document plus a
    trailing ``dup`` token (the near-duplicates the dedup operators exist
    for)."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _replicate(table: pa.Table, key_cols: list[str], stride: int, copies: int) -> list[pa.Table]:
    """``copies`` versions of a table, the k-th with ``key_cols`` shifted
    by ``k * stride`` so joins stay inside a copy."""
    out = []
    for k in range(copies):
        cols = {
            name: (pc.add(table[name], k * stride) if name in key_cols else table[name])
            for name in table.column_names
        }
        out.append(pa.table(cols))
    return out


def star_schema(out_dir: str, seed: int, scale: StarScale, tables: list[str]) -> dict[str, dict]:
    """Write ``tables`` of one seeded star schema under ``out_dir`` as
    ``<name>.parquet`` (a directory of part files for replicated fact
    tables). Returns per-table ``rows``, on-disk ``bytes`` and in-memory
    ``decoded_bytes``."""
    os.makedirs(out_dir, exist_ok=True)
    base = _base_tables(seed, scale)
    replicated = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]}
    info: dict[str, dict] = {}
    for name in tables:
        table = base[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in replicated and scale.replicas > 1:
            table = pa.concat_tables(
                _replicate(table, replicated[name], scale.orders, scale.replicas)
            )
            size = _write(table, path, files=scale.replicas)
        else:
            size = _write(table, path)
        info[name] = {"rows": table.num_rows, "bytes": size, "decoded_bytes": table.nbytes}
    return info


# --- NCSBE raw files ----------------------------------------------------

NCVOTER_HEADER = [
    "County Id", "Voter Reg Num", "NCID", "Last Name", "First Name",
    "Midl Name", "Name Sufx Cd", "Status Cd", "Res Street Address",
    "Res City Desc", "Zip Code", "Area Cd", "Phone Num", "Race Code",
    "Party Cd", "Birth Year", "Registr Dt",
]  # fmt: skip
VR_HEADER = [
    "county_desc", "voter_reg_num", "ncid", "last_name", "first_name",
    "middle_name", "name_suffix_lbl", "status_cd", "house_num",
    "street_name", "res_city_desc", "zip_code", "area_cd", "phone_num",
    "race_code", "party_cd", "age", "snapshot_dt", "load_dt",
]  # fmt: skip
LAST_NAMES = ["SMITH", "JOHNSON", "MUÑOZ", "RENÉE", "O\"BRIEN", "WILLIAMS", "BROWN", "GARCÍA", "DAVIS", "MOORE"]
FIRST_NAMES = ["JOHN", "MARIE", "JOSÉ", 'JOHN "JACK"', "ANNA", "ROBERT", 'MARY "MAE"', "LINDA", "JAMES", "ZOË"]
CITIES = ["DURHAM", "RALEIGH", "CARY", "CHARLOTTE", "ASHEVILLE", "WILMINGTON"]
STREETS = ["OAK ST", "ELM ST", "PINE RD", "MAPLE AVE", "CEDAR LN", "BIRCH CT"]
STATUS = ["A", "I", "R", "D"]
SUFFIX = ["", "", "", "", "JR", "SR", "III"]
PARTIES = ["DEM", "REP", "UNA", "LIB"]
RACES = ["W", "B", "O", "A", "U"]
SNAPSHOT_DATES = ["20240514", "20241105"]
_ZIP_DATE = (2024, 5, 14, 0, 0, 0)


@dataclass(frozen=True)
class EtlScale:
    """``voters`` in the statewide file; each snapshot vintage holds a
    ``snapshot_share`` sample of them, so the two vintages overlap."""

    voters: int = 8_000
    snapshot_share: float = 0.8


def _voter_pool(r: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    pick = lambda vals: np.array(vals, dtype=object)[r.integers(0, len(vals), n)]  # noqa: E731
    return {
        "ncid": np.array([f"NC{i:07d}" for i in range(n)], dtype=object),
        "reg": np.array([str(100000 + i) for i in range(n)], dtype=object),
        "county": r.integers(1, 101, n),
        "last": pick(LAST_NAMES),
        "first": pick(FIRST_NAMES),
        "middle": pick(["", "L", "Q", "ANN", "B"]),
        "suffix": pick(SUFFIX),
        "status": pick(STATUS),
        "house": r.integers(1, 9999, n),
        "street": pick(STREETS),
        "city": pick(CITIES),
        "zip": r.integers(27000, 28999, n),
        "area": pick(["919", "984", "704", "828", "910"]),
        "phone": r.integers(5_550_000, 5_559_999, n),
        "race": pick(RACES),
        "party": pick(PARTIES),
        "birth": r.integers(1930, 2006, n),
        "registr": _EPOCH_1995 + r.integers(0, 10_000, n) * _DAY_US,
    }


def _zip_member(path: str, member: str, data: bytes) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zi = zipfile.ZipInfo(member, date_time=_ZIP_DATE)
        zi.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(zi, data)


def _ncvoter_lines(p: dict[str, np.ndarray]) -> list[str]:
    lines = ["\t".join(NCVOTER_HEADER)]
    for i in range(len(p["ncid"])):
        lines.append(
            "\t".join(
                (
                    str(p["county"][i]), p["reg"][i], p["ncid"][i], p["last"][i],
                    p["first"][i], p["middle"][i], p["suffix"][i], p["status"][i],
                    f"{p['house'][i]} {p['street'][i]}", p["city"][i], str(p["zip"][i]),
                    p["area"][i], str(p["phone"][i]), p["race"][i], p["party"][i],
                    str(p["birth"][i]), str(p["registr"][i])[:10],
                )
            )  # fmt: skip
        )
    return lines


def _snapshot_lines(r: np.random.Generator, p: dict[str, np.ndarray], share: float, date: str) -> list[str]:
    """A vintage: a sorted sample of the pool; a tenth of the sampled
    voters carry a status that differs from the statewide file."""
    n = len(p["ncid"])
    idx = np.sort(r.choice(n, int(n * share), replace=False))
    moved = r.random(len(idx)) < 0.1
    new_status = np.array(STATUS, dtype=object)[r.integers(0, len(STATUS), len(idx))]
    snap = f"{date[:4]}-{date[4:6]}-{date[6:]}"
    lines = ["\t".join(VR_HEADER)]
    for j, i in enumerate(idx):
        lines.append(
            "\t".join(
                (
                    f"COUNTY{p['county'][i]}", p["reg"][i], p["ncid"][i], p["last"][i],
                    p["first"][i], p["middle"][i], p["suffix"][i],
                    new_status[j] if moved[j] else p["status"][i], str(p["house"][i]),
                    p["street"][i], p["city"][i], str(p["zip"][i]), p["area"][i],
                    str(p["phone"][i]), p["race"][i], p["party"][i],
                    str(2024 - p["birth"][i]), snap, snap,
                )
            )  # fmt: skip
        )
    return lines


def _manifest(keys: list[tuple[str, int]]) -> dict:
    """aws s3api list-object-versions shape: the latest version of each
    object, a superseded version of each snapshot, pseudo-directory keys
    and keys no fetch pattern selects."""
    versions = []
    for i, (key, size) in enumerate(keys):
        versions.append({"Key": key, "VersionId": f"v{i}b", "IsLatest": True,
                         "LastModified": "2024-11-06T00:00:00Z", "Size": size, "ETag": f"e{i}b"})  # fmt: skip
        if "VR_Snapshot_" in key:
            versions.append({"Key": key, "VersionId": f"v{i}a", "IsLatest": False,
                             "LastModified": "2024-05-15T00:00:00Z", "Size": size // 2, "ETag": f"e{i}a"})  # fmt: skip
    for j, key in enumerate(["Snapshots/", "Elections/", "data/", "other/readme.md", "other/ncvhis_Statewide.txt"]):
        versions.append({"Key": key, "VersionId": f"d{j}", "IsLatest": True,
                         "LastModified": "2020-01-01T00:00:00Z", "Size": 0 if key.endswith("/") else 10, "ETag": f"d{j}"})  # fmt: skip
    return {"Versions": versions}


def ncsbe_cycles(out_dir: str, seed: int, scale: EtlScale) -> dict:
    """Write two fetch cycles under ``out_dir``: ``cycle1/`` holds the
    statewide zip and the first snapshot vintage, ``cycle2/`` adds the
    second vintage. Each cycle directory is the local 'bucket' plus its
    ``manifest.json``. Returns per-file data ``rows`` (header excluded)
    and ``decoded_bytes`` (UTF-8 size of the decoded text), and the
    cycles' file lists."""
    r = _rng(seed, "ncsbe")
    pool = _voter_pool(r, scale.voters)
    files: dict[str, dict] = {}

    def emit(name: str, member: str, lines: list[str], encoding: str) -> None:
        text = "\n".join(lines) + "\n"
        files[name] = {"rows": len(lines) - 1, "decoded_bytes": len(text.encode("utf-8")),
                       "table": name.split(".", 1)[0].lower()}  # fmt: skip
        buf_path = os.path.join(out_dir, name)
        _zip_member(buf_path, member, text.encode(encoding))
        files[name]["bytes"] = os.path.getsize(buf_path)

    os.makedirs(out_dir, exist_ok=True)
    emit("ncvoter_Statewide.zip", "ncvoter_Statewide.txt", _ncvoter_lines(pool), "latin-1")
    for date in SNAPSHOT_DATES:
        name = f"VR_Snapshot_{date}.zip"
        emit(name, f"VR_Snapshot_{date}.txt", _snapshot_lines(r, pool, scale.snapshot_share, date), "utf-16")
    layout = "layout_ncvoter.txt"
    with open(os.path.join(out_dir, layout), "w", encoding="utf-8") as f:
        f.write("layout description file: synced but never loaded\n")

    cycles = []
    for c, snaps in enumerate([SNAPSHOT_DATES[:1], SNAPSHOT_DATES], start=1):
        names = ["ncvoter_Statewide.zip"] + [f"VR_Snapshot_{d}.zip" for d in snaps]
        cdir = os.path.join(out_dir, f"cycle{c}")
        os.makedirs(cdir, exist_ok=True)
        for name in names + [layout]:
            dst = os.path.join(cdir, name)
            if not os.path.exists(dst):
                os.link(os.path.join(out_dir, name), dst)
        keys = [(f"data/{names[0]}", files[names[0]]["bytes"])]
        keys += [(f"Snapshots/{n}", files[n]["bytes"]) for n in names[1:]]
        keys.append((f"data/{layout}", 52))
        with open(os.path.join(cdir, "manifest.json"), "w", encoding="utf-8") as f:
            json.dump(_manifest(keys), f, indent=1, sort_keys=True)
        cycles.append({"dir": cdir, "files": names})
    return {"files": files, "cycles": cycles}


def permuted(names: list[str], seed: int, stream: str) -> list[str]:
    """The seed's operation order for one workload."""
    order = _rng(seed, stream).permutation(len(names))
    return [names[i] for i in order]
