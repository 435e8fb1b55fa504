"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- :func:`write_tables` — the star-schema + text/vector tables the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``), one single-row-group parquet file each,
  with the same schemas, value domains and planted near-duplicates as the
  engine's reference test data.  ``sf`` scales the row counts the same way.
- :func:`write_upload` — the ``dq_workbench`` upload: a CSV of TR customer
  records (name, e-mail, TR phone, TC ID, tax number, city, birth date) with
  defects injected at the rates in :data:`UPLOAD_DEFECT_RATES`.  It returns
  the per-row class labels; :func:`upload_expectations` turns them into the
  counts every lifecycle step must reproduce.

The engine never sees the seed: it receives only the files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- registry tables -------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["cold", "small", "large", "hot", "blue", "red", "green", "shiny"]
_P_NOUN = ["widget", "bolt", "ring", "gear", "valve", "spring", "panel", "pipe"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _dates(rng, start: dt.date, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, tbl.num_rows))


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents; ~5 % are an earlier document plus a
    trailing ``dup`` token and ~0.2 % exact copies, so the near-duplicate
    and containment operators have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= n // 5 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= n // 5 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the registry tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = round(150_000 * sf), max(10, round(10_000 * sf))
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_ev = round(6_000_000 * sf), round(1_000_000 * sf)
    n_doc, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    n_users = max(15, round(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_dates(rng, dt.date(1995, 1, 1), 2405, n_ord)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_dates(rng, dt.date(1995, 1, 2), 2499, n_line))})
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", _documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


# --- dq_workbench upload ---------------------------------------------------

# Share of rows per defect class, per column.  Every other non-null row is
# valid for that column's rule.
UPLOAD_DEFECT_RATES = {
    "full_name": {"null": 0.0, "too_short": 0.02, "case_noise": 0.06, "padded": 0.05},
    "email": {"null": 0.03, "no_at": 0.03, "uppercase": 0.03, "typo_domain": 0.02},
    "phone": {"null": 0.02, "trunk_zero": 0.03, "too_short": 0.02, "letters": 0.02},
    "tcid": {"null": 0.02, "bad_check": 0.04},
    "taxnum": {"null": 0.02, "bad_check": 0.04},
    "city": {"null": 0.04, "istanbull": 0.03, "misspelt": 0.03},
    "birth_date": {"null": 0.03},
}
# Classes the rule on that column does NOT flag.
_BENIGN = {"valid", "null", "case_noise", "padded"}
DROP_RATE = 0.01

_FIRST = {"Ahmet": "E", "Mehmet": "E", "Ayşe": "K", "Fatma": "K", "Emre": "E",
          "Zeynep": "K", "Elif": "K", "Can": "E", "Deniz": "U", "Ali": "E",
          "Mustafa": "E", "Hatice": "K", "Burak": "E", "Merve": "K"}
_LAST = ["Yilmaz", "Kaya", "Demir", "Celik", "Sahin", "Yildiz", "Aydin",
         "Ozturk", "Arslan", "Dogan"]
_ASCII = str.maketrans("çğışöüÇĞİŞÖÜ", "cgisouCGISOU")
_DOMAINS = ["gmail.com", "hotmail.com", "yahoo.com", "outlook.com", "example.org"]
_CITIES = ["Adana", "Ankara", "Antalya", "Bursa", "Eskişehir", "Gaziantep",
           "İstanbul", "İzmir", "Kayseri", "Konya", "Samsun", "Trabzon"]
_MISSPELT = ["Ankra", "izmir", "Bursaa", "Konyaa"]
# the TR phone rule's dummy digit runs: a valid number contains none
_DUMMY_RUNS = [d * 6 for d in "0123456789"] + [
    "12345", "23456", "34567", "45678", "56789", "67890", "09876", "98765",
    "87654", "76543", "65432", "54321"]

UPLOAD_SCHEMA = ("id INT, full_name STRING, email STRING, phone STRING, "
                 "tcid STRING, taxnum STRING, city STRING, birth_date DATE")
# (rule name, column) in detect order; the rules themselves are built by
# the workload from the engine's rule constructors
UPLOAD_RULES = [("email", "email"), ("phone", "phone"), ("tcid", "tcid"),
                ("taxnum", "taxnum"), ("city", "city"), ("name_len", "full_name")]
NAME_LEN = (5, 40)
CITY_FIX = ("Istanbull", "İstanbul")
CITY_FILL = "Ankara"


def _tcid(rng) -> str:
    d = [int(rng.integers(1, 10))] + [int(x) for x in rng.integers(0, 10, 8)]
    d10 = (7 * (d[0] + d[2] + d[4] + d[6] + d[8]) - (d[1] + d[3] + d[5] + d[7])) % 10
    d.append(d10)
    d.append(sum(d) % 10)
    return "".join(map(str, d))


def _taxnum(rng) -> str:
    d = [int(x) for x in rng.integers(0, 10, 9)]
    total = 0
    for x in range(9):
        t1 = (d[x] + (9 - x)) % 10
        t2 = (t1 * 2 ** (9 - x)) % 9
        total += 9 if (t1 != 0 and t2 == 0) else t2
    return "".join(map(str, d)) + str((10 - total % 10) % 10)


def _phone(rng) -> str:
    while True:
        p = "5" + "".join(str(x) for x in rng.integers(0, 10, 9))
        if not any(r in p for r in _DUMMY_RUNS):
            return p


def _bump_last(s: str) -> str:
    return s[:-1] + str((int(s[-1]) + 1) % 10)


def _pick(rng, rates: dict) -> str:
    r, acc = rng.random(), 0.0
    for cls, p in rates.items():
        acc += p
        if r < acc:
            return cls
    return "valid"


def write_upload(path: str, seed: int, n_rows: int) -> dict:
    """Write the upload CSV; returns ``{"labels": {column: [class per row]},
    "first_names": [...], "drop_ids": [...]}``."""
    rng = np.random.default_rng([seed, 2])
    labels = {c: [] for c in UPLOAD_DEFECT_RATES}
    first_names: list[str] = []
    rows = []
    for i in range(n_rows):
        first = list(_FIRST)[int(rng.integers(0, len(_FIRST)))]
        last = _LAST[int(rng.integers(0, len(_LAST)))]
        cls = {c: _pick(rng, r) for c, r in UPLOAD_DEFECT_RATES.items()}
        name = f"{first} {last}"
        if cls["full_name"] == "too_short":
            name, first = "X Y", "X"
        elif cls["full_name"] == "case_noise":
            name = name.upper() if rng.random() < 0.5 else name.lower()
        elif cls["full_name"] == "padded":
            name = "  " + name + " "
        email = f"{first.lower().translate(_ASCII)}.{last.lower()}{i}@" \
                f"{_DOMAINS[int(rng.integers(0, len(_DOMAINS)))]}"
        email = {"null": None, "no_at": email.replace("@", ""),
                 "uppercase": email.capitalize(),
                 "typo_domain": email.split("@")[0] + "@gamil.com"}.get(cls["email"], email)
        phone = _phone(rng)
        phone = {"null": None, "trunk_zero": "0" + phone, "too_short": phone[:9],
                 "letters": phone[:7] + "abc"}.get(cls["phone"], phone)
        tcid, tax = _tcid(rng), _taxnum(rng)
        tcid = {"null": None, "bad_check": _bump_last(tcid)}.get(cls["tcid"], tcid)
        tax = {"null": None, "bad_check": _bump_last(tax)}.get(cls["taxnum"], tax)
        city = {"null": None, "istanbull": CITY_FIX[0],
                "misspelt": _MISSPELT[int(rng.integers(0, len(_MISSPELT)))]}.get(
            cls["city"], _CITIES[int(rng.integers(0, len(_CITIES)))])
        birth = None if cls["birth_date"] == "null" else (
            dt.date(1950, 1, 1) + dt.timedelta(days=int(rng.integers(0, 20_000)))).isoformat()
        rows.append([i, name, email, phone, tcid, tax, city, birth])
        for c in labels:
            labels[c].append(cls[c])
        first_names.append(first)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["id", "full_name", "email", "phone", "tcid", "taxnum", "city", "birth_date"])
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
    n_drop = max(1, round(DROP_RATE * n_rows))
    drop_ids = sorted(int(x) for x in rng.choice(n_rows, n_drop, replace=False))
    return {"labels": labels, "first_names": first_names, "drop_ids": drop_ids}


def _rule_counts(labels: dict, keep: list[int], fixed: dict[str, set]) -> dict:
    """(total, nulls, violations) per rule over the kept rows, after the
    classes in ``fixed[column]`` have been repaired to valid."""
    out = {}
    for rule, col in UPLOAD_RULES:
        cls = [labels[col][i] for i in keep]
        gone = fixed.get(col, set())
        nulls = sum(c == "null" and "null" not in gone for c in cls)
        viol = sum(c not in _BENIGN and c not in gone for c in cls)
        out[rule] = [len(cls), nulls, viol]
    return out


def upload_expectations(up: dict) -> dict:
    """What every lifecycle step must return, derived from the labels."""
    labels, n = up["labels"], len(up["first_names"])
    drop = set(up["drop_ids"])
    keep = [i for i in range(n) if i not in drop]
    nulls = {c: sum(x == "null" for x in v) for c, v in labels.items()}
    nulls.update(id=0)
    gender: dict[str, int] = {}
    for i in keep:
        g = _FIRST.get(up["first_names"][i])
        key = "null" if g is None else g
        gender[key] = gender.get(key, 0) + 1
    return {
        "rows": n,
        "nulls": nulls,
        "detect_before": _rule_counts(labels, list(range(n)), {}),
        "detect_after": _rule_counts(labels, keep, {"city": {"istanbull", "null"}}),
        "kept_rows": len(keep),
        "gender": gender,
    }
