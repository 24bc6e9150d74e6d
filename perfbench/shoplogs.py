"""Seeded synthetic shopping logs for the `etl_logs` workload.

Writes, under one directory per (seed, size):

  logs/part-*.parquet        events in the reference input schema
  categories/part-0.parquet  the category dimension
  expected.parquet           the 16-column output the ETL job must produce
  meta.json                  input rows/bytes and the generator's bookkeeping

The expected output is computed here, in Python, from the reference job's
documented semantics (site-family JSON dialects, UTC -> KST shift with
millis truncated, the comma/quote scrubbing quirks, maid fallback for a
null userid, inner category join plus null-padded logins, full-row
dedup). It shares no code with the engine it checks.
"""
import datetime as dt
import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

# Configured site ids -> family; one more site id is deliberately absent.
SITES = {"154992": "default", "-48": "type1", "155138": "type2", "4550": "type3"}
UNCONFIGURED_SITE = "99999"

# family -> [(logtypes, code key, name key, code is the og:url last segment)]
BRANCHES = {
    "default": [(("login", "purchase", "cart"), "productCode", "productName", False),
                (("view",), "rb:itemId", "rb:itemName", False)],
    "type1": [(("login", "purchase"), "goodsCode", "goodsName", False),
              (("cart",), "goodsCode", "name", False),
              (("view",), "tas:productCode", "og:title", False)],
    "type2": [(("login", "purchase", "cart"), "productCode", "productName", False),
              (("view",), "og:url", "og:title", True)],
    "type3": [(("login", "purchase", "cart"), "productCode", "productName", False),
              (("view",), "tas:productCode", "Title", False)],
}

LOGTYPES = (("login", 0.15), ("purchase", 0.20), ("cart", 0.25), ("view", 0.40))
OUTPUT_COLUMNS = ["USER_ID", "SHOPPING_ID", "TRANSACTION_DATE", "TRANSACTION_TIME",
                  "LOG_TYPE", "INTG_ID", "ITEM_CODE", "ITEM_NAME",
                  "CAT1", "CAT2", "CAT3", "CAT4",
                  "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4"]
CATEGORY_COLUMNS = ["SHOPPING_ID", "ITEM_CODE", "INTG_ID", "ITEM_NAME",
                    "CAT1", "CAT2", "CAT3", "CAT4",
                    "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4"]

PRODUCTS_PER_SITE = 400
CATEGORY_COVERAGE = 0.8
NULL_USERID = 0.10
DUPLICATE_SHARE = 0.03
LOG_FILES = 4
EPOCH = dt.datetime(2019, 6, 1)
KST = dt.timedelta(hours=9)


# --- generation -------------------------------------------------------------

def _product_name(rng, p):
    r = rng.random()
    if r < 0.10:
        return f"Shirt, size {p % 7}"          # a comma inside a name
    if r < 0.15:
        return f'{p % 40}" monitor'            # a quote inside a name
    if r < 0.17:
        return f"Socks,, pack of {p % 5}"      # a run of commas
    return f"Item {p}"


def _custom(rng, site, family, logtype):
    """The `custom` JSON in the event's site dialect (or, rarely, not)."""
    if logtype == "login" and rng.random() < 0.5:
        return "{}"
    branch = next(b for b in BRANCHES[family] if logtype in b[0])
    _, code_key, name_key, url_code = branch
    if rng.random() < 0.02:  # a payload in another family's dialect
        code_key, name_key = "itemCodeX", "itemNameX"
    ps = [rng.randrange(PRODUCTS_PER_SITE) for _ in range(rng.randint(1, 3))]
    codes = [f"{site}-p{p}" for p in ps]
    names = [_product_name(rng, p) for p in ps]
    if url_code:
        return json.dumps({code_key: f"https://m.shop.example/{site}/goods/view/{codes[0]}",
                           name_key: names[0]})
    return json.dumps({code_key: codes, name_key: names})


def _timestamp(rng):
    t = EPOCH + dt.timedelta(seconds=rng.randrange(30 * 86400))
    s = t.strftime("%Y-%m-%dT%H:%M:%S")
    return s + (f".{rng.randrange(1000):03d}Z" if rng.random() < 0.5 else "Z")


def generate_events(seed, n):
    """`n` base events plus planted exact duplicates, well mixed."""
    rng = random.Random(seed)
    users = max(1, n // 20)
    kinds, weights = zip(*LOGTYPES)
    site_ids = list(SITES)
    events = []
    for _ in range(n):
        site = UNCONFIGURED_SITE if rng.random() < 0.06 else rng.choice(site_ids)
        family = SITES.get(site, "default")
        logtype = rng.choices(kinds, weights)[0]
        u = rng.randrange(users)
        r = rng.random()
        userid = None if r < NULL_USERID else (
            f"uid-{u}-" + "x" * 110 if r < NULL_USERID + 0.003 else f"uid-{u}")
        events.append({
            "custid": f"cid-{u}",
            "custom": _custom(rng, site, family, logtype),
            "info": {"siteseq": site},
            "logtype": logtype,
            "maid": f"maid-{u}",
            "timestamp": _timestamp(rng),
            "userid": userid,
        })
    dups = [dict(events[rng.randrange(n)]) for _ in range(int(n * DUPLICATE_SHARE))]
    events.extend(dups)
    rng.shuffle(events)
    return events, len(dups)


def generate_categories(seed):
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for site in list(SITES) + [UNCONFIGURED_SITE]:
        for p in range(PRODUCTS_PER_SITE):
            if rng.random() >= CATEGORY_COVERAGE:
                continue
            c = [p % 3, p % 11, p % 29, p % 53]
            rows.append({
                "SHOPPING_ID": site, "ITEM_CODE": f"{site}-p{p}",
                "INTG_ID": f"I{site}:{p}", "ITEM_NAME": f"name {p}",
                "CAT1": f"c1-{c[0]}", "CAT2": f"c2-{c[1]}",
                "CAT3": f"c3-{c[2]}", "CAT4": f"c4-{c[3]}",
                "INTG_CAT1": f"i1-{c[0]}", "INTG_CAT2": f"i2-{c[1]}",
                "INTG_CAT3": f"i3-{c[2]}", "INTG_CAT4": f"i4-{c[3]}",
            })
    return rows


# --- expected output (the reference job's semantics) ------------------------

COMMA = re.compile(r'[^"](,+)|(,+)[^"]')
QUOTE = re.compile(r'(^\[)|(\]$)|(")')


def json_field(obj, key):
    """One key of a parsed JSON object as text: strings unquoted, other
    values re-serialized compactly; None when absent or null."""
    if not isinstance(obj, dict) or obj.get(key) is None:
        return None
    v = obj[key]
    return v if isinstance(v, str) else json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def kst_date_time(ts):
    """ISO UTC timestamp -> (date, time) in KST, millis truncated."""
    return (dt.datetime.fromisoformat(ts[:19]) + KST).isoformat(" ").split(" ")


def _products(custom, code_key, name_key, url_code):
    try:
        obj = json.loads(custom)
    except (TypeError, ValueError):
        obj = None
    code, name = json_field(obj, code_key), json_field(obj, name_key)
    if url_code and code is not None:
        code = code.split("/")[-1]
    code = None if code is None else COMMA.sub("", code)
    name = None if name is None else COMMA.sub("", name)
    if code is None or name is None:
        return [(None, None)]
    codes = QUOTE.sub("", code).split(",")
    names = QUOTE.sub("", name).split(",")
    width = max(len(codes), len(names))
    codes += [None] * (width - len(codes))
    names += [None] * (width - len(names))
    return list(zip(codes, names))


def expected_output(events, categories):
    """(set of output rows, rows entering the final dedup)."""
    cats = {(c["SHOPPING_ID"], c["ITEM_CODE"]): c for c in categories}
    out, attempted = set(), 0
    for e in events:
        site = e["info"]["siteseq"]
        family = SITES.get(site)
        if family is None:
            continue
        branch = next(b for b in BRANCHES[family] if e["logtype"] in b[0])
        date, time = kst_date_time(e["timestamp"])
        user = e["userid"] if e["userid"] is not None else e["maid"]
        user = None if user is None else user[:100]
        for code, _name in _products(e["custom"], *branch[1:]):
            c = cats.get((site, code))
            if c is not None:
                attempted += 1
                out.add((user, site, date, time, e["logtype"]) +
                        tuple(c[k] for k in OUTPUT_COLUMNS[5:]))
            if e["logtype"] == "login":
                attempted += 1
                out.add((user, site, date, time, "login") + (None,) * 11)
    return out, attempted


# --- files ------------------------------------------------------------------

LOG_SCHEMA = pa.schema([
    ("custid", pa.string()), ("custom", pa.string()),
    ("info", pa.struct([("siteseq", pa.string())])),
    ("logtype", pa.string()), ("maid", pa.string()),
    ("timestamp", pa.string()), ("userid", pa.string()),
])


def _strings(columns, rows):
    return pa.table({c: pa.array([r[i] for r in rows], pa.string())
                     for i, c in enumerate(columns)})


def write_dataset(seed, n, out_dir):
    """Generate the dataset for (seed, n) into `out_dir`; returns meta."""
    events, dups = generate_events(seed, n)
    categories = generate_categories(seed)
    os.makedirs(f"{out_dir}/logs", exist_ok=True)
    os.makedirs(f"{out_dir}/categories", exist_ok=True)
    per = -(-len(events) // LOG_FILES)
    for i in range(LOG_FILES):
        part = events[i * per:(i + 1) * per]
        pq.write_table(pa.Table.from_pylist(part, LOG_SCHEMA),
                       f"{out_dir}/logs/part-{i:05d}.parquet")
    pq.write_table(_strings(CATEGORY_COLUMNS, [[c[k] for k in CATEGORY_COLUMNS] for c in categories]),
                   f"{out_dir}/categories/part-00000.parquet")
    expected, attempted = expected_output(events, categories)
    pq.write_table(_strings(OUTPUT_COLUMNS, sorted(expected, key=repr)), f"{out_dir}/expected.parquet")
    logs_dir = f"{out_dir}/logs"
    meta = {
        "seed": seed, "base_events": n, "input_rows": len(events), "planted_duplicates": dups,
        "input_bytes": sum(os.path.getsize(f"{logs_dir}/{f}") for f in os.listdir(logs_dir)),
        "categories": len(categories), "expected_rows": len(expected),
        "dedup_in_rows": attempted,
    }
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f, indent=1)
    return meta
