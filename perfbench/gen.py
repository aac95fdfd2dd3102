"""Input generators for the benchmark.

Everything the engine reads is made here, from a seed, before any timer
starts. Three families:

* `tables`  - the `documents` and `embeddings` tables, shaped like the
  repository's sf0.1 test data. They use a fixed seed so that the DuckDB
  answers in `expected/` hold for them.
* `forex`   - the daily ETL's inputs: a Kaggle-shaped history CSV with
  dirty rows, one Frankfurter JSON document and one x-rates HTML page
  per day (every third day re-delivers an earlier day), and the ground
  truth of what each day must insert, skip and post.
* `corpus`  - the documents table plus planted exact and near-duplicate
  copies, the ingest batches, the ids to forget and the top-k queries.
"""
import calendar
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLE_FILES = ["documents", "embeddings"]
# row counts at scale 1.0 (the sf0.1 shape)
SIZES = {"documents": 5000, "embeddings": 2000}
WORDS = ("a the spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge data "
         "vector join customer batch part index cache plan shuffle task job "
         "stage node file page").split()


def tables(out_dir, scale):
    """Write the tables under out_dir; returns a content fingerprint."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n = {k: max(10, int(v * scale)) for k, v in SIZES.items()}
    t = {}
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 80)))
             for _ in range(nd)]
    for i in range(8):  # a few exact copies, as in the shipped corpus
        texts[nd - 1 - i] = texts[i * 7]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0, 0.9, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    h = hashlib.sha256()
    for name in TABLE_FILES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t[name], path)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# --------------------------------------------------------------- forex ETL

CURRENCIES = [
    ("USD", "US Dollar"), ("GBP", "British Pound"), ("JPY", "Japanese Yen"),
    ("CHF", "Swiss Franc"), ("AUD", "Australian Dollar"),
    ("CAD", "Canadian Dollar"), ("CNY", "Chinese Yuan Renminbi"),
    ("SEK", "Swedish Krona"), ("NOK", "Norwegian Krone"),
    ("DKK", "Danish Krone"), ("PLN", "Polish Zloty"), ("CZK", "Czech Koruna"),
    ("HUF", "Hungarian Forint"), ("RON", "Romanian New Leu"),
    ("BGN", "Bulgarian Lev"), ("TRY", "Turkish Lira"), ("INR", "Indian Rupee"),
    ("BRL", "Brazilian Real"), ("MXN", "Mexican Peso"),
    ("ZAR", "South African Rand"), ("KRW", "South Korean Won"),
    ("SGD", "Singapore Dollar"), ("HKD", "Hong Kong Dollar"),
    ("NZD", "New Zealand Dollar"), ("ILS", "Israeli New Shekel"),
    ("THB", "Thai Baht"), ("MYR", "Malaysian Ringgit"),
    ("PHP", "Philippine Peso"), ("IDR", "Indonesian Rupiah"),
    ("ISK", "Icelandic Krona")]
HISTORY_START = dt.date(2015, 1, 1)
HISTORY_END = dt.date(2024, 12, 31)
FIRST_DAY = dt.date(2024, 9, 1)


def add_months(d, months):
    """Spark's add_months: same day of month, clamped to the month's end."""
    m = d.month - 1 + months
    y, m = d.year + m // 12, m % 12 + 1
    return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))


def _fmt(x):
    return f"{x:.6f}".rstrip("0").rstrip(".")


def forex(out_dir, seed, days, currencies=30, history_years=10):
    """Write the ETL inputs for `days` simulated days and their truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ccys = CURRENCIES[:currencies]
    hist_start = dt.date(HISTORY_END.year - history_years + 1, 1, 1)
    ndays = (HISTORY_END - hist_start).days + 1
    dates = [hist_start + dt.timedelta(days=i) for i in range(ndays)]
    base = rng.uniform(0.5, 150.0, len(ccys))
    walk = np.exp(np.cumsum(rng.normal(0, 0.004, (ndays, len(ccys))), axis=0))
    rates = np.round(base * walk, 6)
    rows = []
    for di, d in enumerate(dates):
        ds = d.isoformat()
        for ci, (code, name) in enumerate(ccys):
            row = (code, "EUR", "" if (di + ci) % 97 == 0 else name,
                   _fmt(rates[di, ci]), ds)
            rows.append(row)
    # dirty rows: exact duplicates, nulls, non-positive rates and dates
    # that do not parse; none of them may add or change a valid key
    n_dirty = max(4, len(rows) // 50)
    picks = rng.integers(0, len(rows), (5, n_dirty))
    dirty = []
    for i in picks[0]:
        dirty.append(rows[i])                                   # exact dup
    for i in picks[1]:
        r = rows[i]
        dirty.append(("", r[1], r[2], r[3], r[4]))              # null currency
    for i in picks[2]:
        r = rows[i]
        dirty.append((r[0], r[1], r[2], "", r[4]))              # null rate
    for j, i in enumerate(picks[3]):
        r = rows[i]
        dirty.append((r[0], r[1], r[2], "0" if j % 2 else "-" + r[3], r[4]))
    for j, i in enumerate(picks[4]):
        r = rows[i]
        dirty.append((r[0], r[1], r[2], r[3], ["n/a", "TBD", "not-a-date"][j % 3]))
    allrows = rows + dirty
    order = rng.permutation(len(allrows))
    hist_path = os.path.join(out_dir, "history.csv")
    with open(hist_path, "w") as f:
        f.write("currency,base_currency,currency_name,exchange_rate,date\n")
        for i in order:
            f.write(",".join(allrows[i]) + "\n")

    # one API document and one scraped page per day; every third day
    # re-delivers a seeded earlier day's documents (the idempotent skip
    # path), at the same position for every seed so that runs do the same
    # amount of work
    api_ccys = ccys[:max(3, currencies - 1)]
    docs = [int(rng.integers(max(0, d - 3), d)) if d % 3 == 2 else d
            for d in range(days)]
    plan = []
    for d in range(days):
        src = docs[d]
        day = FIRST_DAY + dt.timedelta(days=src)
        di = (day - hist_start).days
        api = {"amount": 1.0, "base": "EUR", "date": day.isoformat(),
               "rates": {c: float(rates[di, i]) for i, (c, _) in enumerate(api_ccys)}}
        with open(os.path.join(out_dir, f"api_{d:03d}.json"), "w") as f:
            json.dump(api, f)
        with open(os.path.join(out_dir, f"page_{d:03d}.html"), "w") as f:
            f.write(_page(day, [(n, rates[di, i]) for i, (_, n) in enumerate(ccys)]))
        plan.append({"day": d, "anchor": (FIRST_DAY + dt.timedelta(days=d)).isoformat(),
                     "source_day": src})

    # ground truth, day by day, for any prefix of the days that gets run
    seen = {"api": set(), "history": set(), "scraped": set()}
    truth = []
    cum = 0
    for d in range(days):
        src = docs[d]
        day = FIRST_DAY + dt.timedelta(days=src)
        anchor = FIRST_DAY + dt.timedelta(days=d)
        out = {}
        for table, keys in (
                ("api", {(c, day) for c, _ in api_ccys}),
                ("history", {(c, day) for c, _ in ccys
                             for day in _window(anchor, hist_start)}),
                ("scraped", {(n, day) for _, n in ccys})):
            new = keys - seen[table]
            out[table] = {"inserted": len(new), "skipped": len(keys) - len(new)}
            seen[table] |= new
            cum += len(new)
        out["posted"] = cum
        truth.append(out)
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump({"days": plan, "truth": truth,
                   "history_csv": hist_path}, f)
    return truth


def _window(anchor, hist_start):
    """History dates `Transforms.windowMonths(anchor, 1)` keeps."""
    d = max(add_months(anchor, -1), hist_start)
    while d <= min(anchor, HISTORY_END):
        yield d
        d += dt.timedelta(days=1)


def _page(day, rows):
    stamp = f"{calendar.month_abbr[day.month]} {day.day}, {day.year} 21:00 UTC"
    body = ["<tr><th>Euro</th><th>1.00 EUR</th><th>inv. 1.00 EUR</th></tr>"]
    for name, rate in rows:
        body.append(f"<tr><td>{name}</td><td><a href='/graph/?from=EUR'>"
                    f"{rate:.6f}</a></td><td>{1 / rate:.6f}</td></tr>")
    body.insert(len(body) // 2, "<tr><td>broken row</td></tr>")
    return ("<html><body><div class='moduleContent'>"
            f"<span class=\"ratesTimestamp\">{stamp}</span>"
            "<table class=\"tablesorter ratesTable\">" + "".join(body) +
            "</table></div></body></html>")


# ------------------------------------------------------------- corpus dedup

def _mutate(rng, words, rate):
    out = list(words)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = WORDS[int(rng.integers(0, len(WORDS)))]
    return out


def corpus(out_dir, tables_dir, seed, planted, batches, mutation=0.03,
           forget=20, queries=200):
    """Documents plus planted copies, split into ingest batches."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet")).to_pydict()
    ids, texts, langs = docs["doc_id"], docs["text"], docs["lang"]
    next_id = max(ids) + 1
    pairs = []
    srcs = rng.choice(len(ids), planted, replace=False)
    for j, s in enumerate(srcs):
        words = texts[s].split()
        exact = j % 3 == 0
        copy = words if exact else _mutate(rng, words, mutation)
        ids.append(next_id)
        texts.append(" ".join(copy))
        langs.append(langs[s])
        pairs.append([int(ids[s]), next_id, exact])
        next_id += 1
    order = rng.permutation(len(ids))
    batch_of = np.array_split(order, batches)
    table = pa.table({"doc_id": pa.array([ids[i] for i in order], pa.int64()),
                      "text": [texts[i] for i in order],
                      "lang": [langs[i] for i in order],
                      "batch": pa.array(np.concatenate(
                          [np.full(len(b), k) for k, b in enumerate(batch_of)]),
                          pa.int32())})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"))
    first = [ids[i] for i in batch_of[0]]
    gone = sorted(int(x) for x in rng.choice(first, min(forget, len(first)),
                                             replace=False))
    emb = pq.read_table(os.path.join(tables_dir, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    qs = vecs[rng.integers(0, len(vecs), queries)] + rng.normal(0, 0.05, (queries, vecs.shape[1]))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump({"planted": pairs, "forget": gone, "batches": batches,
                   "text_bytes": sum(len(x.encode()) for x in texts),
                   "queries": [[float(x) for x in q] for q in qs]}, f)
