"""Pure helpers for the graftbench harness: seeded input generators, the
order-insensitive result comparison against the DuckDB oracle, and the
statistics every metric is reported with. No Spark and no subprocesses
here, so `test_benchlib.py` covers all of it quickly."""
import datetime
import decimal
import math
import os
import random
import statistics

# ---------------------------------------------------------------- statistics


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it. Always an observed value."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def beyond(xs, q):
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(xs, q)
    return sum(1 for x in xs if x > p)


def spread(xs):
    """Interquartile range as a share of the median (the run-to-run spread
    the bounds in BENCHMARK.json are compared with)."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else 0.0


# ---------------------------------------------------------- fixture tables
#
# The fixture family the correctness harness reads (seed 42, FIXTURES.md
# section B), regenerated here because a benchmark checkout carries no data.
# The draw order, value lists and conversions below reproduce those tables
# cell for cell at sf0.001, sf0.01 and sf0.1 (checked with DuckDB, row by
# row, against a copy of the originals; see README.md, "Inputs").

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_WORDS = (["red", "blue", "small", "large", "hot", "cold", "old", "new"],
              ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"])
ORDER_STATUS = ["O", "F", "P"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def table_sizes(sf):
    """Row counts of the fixture family at scale factor sf. documents and
    embeddings do not scale below 500 rows (500 at both sf0.001 and sf0.01)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {"customer": n(150000), "supplier": n(10000), "part": n(200000),
            "orders": n(1500000), "lineitem": n(6000000), "events": n(1000000),
            "documents": max(500, n(50000)), "embeddings": max(500, n(20000))}


def gen_tables(out_dir, sf, seed=42):
    """Write the ten fixture tables (one parquet file each) that
    `graft.Tables` loads. Deterministic in (sf, seed); one generator feeds
    every table in a fixed order, so no draw may be added or moved."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    sizes = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start, span, k):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, k).astype("timedelta64[D]").astype("timedelta64[us]")

    def pick(values, k):
        return [values[i] for i in rng.integers(0, len(values), k)]

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = sizes["customer"]
    write("customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(SEGMENTS, nc)})
    ns = sizes["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = sizes["part"]
    write("part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(PART_WORDS[0], npart), pick(PART_WORDS[1], npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": pick(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = sizes["orders"]
    write("orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(ORDER_STATUS, no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(days("1995-01-01", 2405, no), pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, no)})
    nl = sizes["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": money(0.0, 0.10, nl),
        "l_tax": money(0.0, 0.08, nl),
        "l_returnflag": pick(RETURN_FLAGS, nl),
        "l_linestatus": pick(LINE_STATUS, nl),
        "l_shipdate": pa.array(days("1995-01-02", 2499, nl), pa.timestamp("us"))})
    ne = sizes["events"]
    # seconds into a 30-day window, sorted, via integer nanoseconds
    ts_ns = (np.sort(rng.uniform(0, 30 * 86400, ne)) * 1e9).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "ns") + ts_ns.astype("timedelta64[ns]")
    write("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": pick(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})
    nd = sizes["documents"]
    texts = []
    for _ in range(nd):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(pick(VOCAB, k)))
    # one document in 20 becomes a near duplicate: another document's text
    # plus the token "dup" (applied in draw order, so chains can form)
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    write("documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = sizes["embeddings"]
    vecs = rng.normal(0, 1, (nv, 64)).astype(np.float32)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


# ------------------------------------------------------------ listing pages

BARRIOS = ["Chapinero", "Usaquén", "Suba", "Teusaquillo", "Kennedy",
           "Engativá", "Fontibón", "Bosa", "Cedritos", "La Candelaria"]


def gen_pages(seed, n_pages, cards_per_page, error_every=40):
    """Seeded search-result pages. Returns (pages, planted): pages maps a
    page number to its HTML, and planted maps every page number to the
    totals of its cards, or to None for a planted 404 (a page with no HTML).
    One page in each run of `error_every` is a 404, at a seeded position."""
    rng = random.Random(seed)
    missing = set()
    for start in range(1, n_pages + 1, error_every):
        missing.add(rng.randint(start, min(start + error_every - 1, n_pages)))
    pages, planted = {}, {}
    for p in range(1, n_pages + 1):
        cards = [_card(rng) for _ in range(cards_per_page)]
        if p in missing:
            planted[p] = None
            continue
        pages[p] = ("<html><body><div class=\"results\">\n" + "\n".join(c[0] for c in cards)
                    + "\n</div></body></html>\n")
        tot = dict.fromkeys(PLANTED_KEYS, 0)
        for _, vals in cards:
            tot["listings"] += 1
            for k in ("sum_valor", "barrio_present", "sum_rooms", "sum_baths", "sum_mts2"):
                tot[k] += vals.get(k, 0)
        planted[p] = tot
    return pages, planted


PLANTED_KEYS = ("listings", "sum_valor", "barrio_present", "sum_rooms", "sum_baths", "sum_mts2")


def expected(planted, first, n):
    """What one crawl batch over pages [first, first + n) must produce."""
    exp = dict.fromkeys(PLANTED_KEYS, 0)
    exp["error_pages"] = []
    dates = set()
    for p in range(first, first + n):
        tot = planted[p]
        if tot is None:
            exp["error_pages"].append(p)
            continue
        dates.add(p % 28)
        for k in PLANTED_KEYS:
            exp[k] += tot[k]
    exp["dates"] = len(dates)
    return exp


def _card(rng):
    """One listing card; each field is missing with probability 1/20.
    Returns (html, planted values)."""
    vals = {}
    parts = ['<div class="listing-card__content">']
    if rng.random() > 0.05:
        vals["sum_valor"] = rng.randint(80, 2500) * 1_000_000
        parts.append(f'  <span class="price__actual">$ {vals["sum_valor"]:,}</span>'.replace(",", "."))
    if rng.random() > 0.05:
        vals["barrio_present"] = 1
        parts.append(f'  <div class="listing-card__location__geo">{rng.choice(BARRIOS)}, Bogotá</div>')
    if rng.random() > 0.05:
        vals["sum_rooms"] = rng.randint(1, 5)
        parts.append(f'  <p data-test="bedrooms" content="{vals["sum_rooms"]}"></p>')
    if rng.random() > 0.05:
        vals["sum_baths"] = rng.randint(1, 4)
        parts.append(f'  <p data-test="bathrooms" content="{vals["sum_baths"]}"></p>')
    if rng.random() > 0.05:
        vals["sum_mts2"] = rng.randint(300, 3000) / 10.0
        parts.append(f'  <p data-test="floor-area" content="{vals["sum_mts2"]}"></p>')
    parts.append("</div>")
    return "\n".join(parts), vals


def write_pages(pages, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for p, html in pages.items():
        with open(os.path.join(out_dir, f"page-{p}.html"), "w", encoding="utf-8") as f:
            f.write(html)


# ------------------------------------------------------- result comparison


def canon(v):
    """One result cell in an engine-neutral form: numbers as int/float,
    temporal values as ISO strings, maps as sorted (key, value) pairs,
    structs as sorted (field, value) pairs, lists as tuples."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return ("map",) + tuple(sorted(((canon(k), canon(x)) for k, x in zip(v["key"], v["value"])),
                                           key=repr))
        return ("struct",) + tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def _key(v):
    """Sort form of a canonical cell: floats rounded to 6 decimals, integral
    floats written as integers, so both engines put rows in the same order
    (the values themselves are compared by `same_result`, unrounded)."""
    if isinstance(v, bool) or v is None:
        return repr(v)
    if isinstance(v, (int, float)):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return repr(v)
        r = round(float(v), 6)
        return str(int(r)) if r == int(r) and abs(r) < 2**53 else repr(r)
    if isinstance(v, tuple):
        return "(" + ",".join(_key(x) for x in v) + ")"
    return repr(v)


def canon_result(columns, rows):
    """Columns sorted by name (as the oracle compare has always done), each
    row canonicalized, and rows in a content order, not engine order."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in idx]
    out = [tuple(canon(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda r: [_key(x) for x in r])
    return cols, out


def _close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def same_result(got, want):
    """Compare two canon_result() values row by row, in their content
    order: doubles to 1e-9 relative, everything else exactly."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return False, f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return False, f"rows {len(gr)} != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _close(a, b):
            return False, f"row {i}: {a!r} != {b!r}"
    return True, ""
