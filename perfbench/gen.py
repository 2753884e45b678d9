"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``tables(seed, out_dir)`` writes the ten parquet tables the program's
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``) at the sf0.1 sizes and column types of
  the project's test data: same row counts, same value domains, fresh
  values.
* ``toots(seed, n, ...)`` makes a toot corpus as JSON lines, the input of
  the streaming job and of the batch backfill, plus a ledger of what it
  emitted (one record per line, with the true creation instant).

Corpus make-up (shares are of all lines, drawn per line):

* users and hashtags are Zipf-distributed (exponent 1.1 over 400 users
  and 60 tags); usernames and texts are sometimes padded with spaces,
  hashtags come in mixed case and sometimes blank;
* ``DUP_SHARE`` of lines repeat an earlier id with a later ``created_at``
  and another url (the batch ``clean`` step keeps the latest);
* ``DROP_SHARE`` of lines must be dropped by ``TootOps.cleanToots``:
  null text, blank text, null username, or malformed JSON, in turn;
* ``created_at`` cycles through the five layouts that
  ``TootOps.parseCreatedAt`` accepts, with UTC offsets where the layout
  carries one, so every line has a parseable creation instant.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_SHARE = 0.05
DROP_SHARE = 0.04
N_USERS = 400
N_TAGS = 60
ZIPF_S = 1.1

WORDS = ("a the data spark stream batch table column row key value join "
         "merge group agg filter scan sort hash window vector query order "
         "line part customer small big fast slow").split()
TAGS = [f"Tag{i}" for i in range(N_TAGS)]
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _ts_us(base_s, offsets_us):
    return pa.array((base_s * 1_000_000 + offsets_us).astype("int64"),
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(seed, out_dir):
    """Write the ten sf0.1-shaped tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, 1])
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part, n_ord, n_li = 15000, 1000, 20000, 150000, 600000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array("large hot blue small red cold green tiny".split())
    noun = np.array("ring bolt nut gear pipe valve screw spring".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    day_us = 86_400 * 1_000_000
    base_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
                    .timestamp())
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype="int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts_us(base_1995, r.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_ord)]})
    qty = r.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li, dtype="int64"),
        "l_partkey": r.integers(0, n_part, n_li, dtype="int64"),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype="int64"),
        "l_linenumber": r.integers(1, 8, n_li, dtype="int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100,
        "l_tax": r.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(base_1995, r.integers(0, 2460, n_li) * day_us)})
    n_ev = 100000
    ev_off = np.sort(r.integers(0, 30 * day_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts_us(EPOCH_2024, ev_off),
        "user_id": r.integers(0, 1500, n_ev, dtype="int64"),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(r.exponential(60, n_ev), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", _documents(r))
    _write(out_dir, "embeddings", _embeddings(r))


def _documents(r, n=5000):
    langs = np.array(["en", "de", "es", "fr", "zh"])
    texts = []
    for i in range(n):
        u = r.random()
        if i > 50 and u < 0.05:
            # near-duplicate: an earlier document with one word swapped
            # and the marker word appended
            src = texts[int(r.integers(0, i))].split(" ")
            src[int(r.integers(0, len(src)))] = WORDS[int(r.integers(0, 30))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 50 and u < 0.052:
            texts.append(texts[int(r.integers(0, i))])
        else:
            k = int(r.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, 30, k)))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs[r.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}


def _embeddings(r, n=2000, dim=64):
    centers = r.normal(0, 1, (10, dim))
    label = r.integers(0, 10, n)
    v = centers[label] + r.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(v.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": label.astype("int32")}


def _fmt_created(epoch_us, kind, offset_min):
    """Render an instant in one of the five accepted layouts."""
    t = dt.datetime.fromtimestamp(epoch_us / 1e6, dt.timezone.utc)
    if kind == 4:
        return t.strftime("%Y-%m-%d %H:%M:%S")
    tz = dt.timezone(dt.timedelta(minutes=offset_min))
    t = t.astimezone(tz)
    off = t.strftime("%z")
    off = off[:3] + ":" + off[3:]
    if kind == 0:
        return t.astimezone(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    if kind == 1:
        return t.strftime("%Y-%m-%d %H:%M:%S.%f") + off
    if kind == 2:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + off
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}" \
        + off


def _zipf_index(r, n, size):
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return r.choice(n, size, p=w / w.sum())


def toots(seed, n, stream=0, span_s=2 * 86400):
    """Return ``(lines, ledger)`` for ``n`` toot JSON lines.

    ``stream`` separates independent corpora of one seed.  The ledger
    holds, per line: ``id``, ``epoch_us`` (the creation instant, at the
    precision its layout carries), ``username`` and ``text`` as emitted
    (padding included, ``None`` when absent), ``hashtags``, ``url`` and
    ``malformed``.
    """
    r = np.random.default_rng([seed, 2, stream])
    users = _zipf_index(r, N_USERS, n)
    n_tags = r.integers(0, 4, n)
    tag_idx = _zipf_index(r, N_TAGS, int(n_tags.sum()))
    tag_upper = r.random(len(tag_idx)) < 0.3
    blank_tag = r.random(n) < 0.05
    dup = r.random(n) < DUP_SHARE
    dup_of = (r.random(n) * np.arange(n)).astype("int64")
    dup_shift = r.integers(1, 3600, n) * 1_000_000
    fresh = (EPOCH_2024 + 86400 * 40 + r.integers(0, span_s, n)) * 1_000_000
    frac = r.integers(0, 1_000_000, n)
    offsets = r.choice([0, 60, 120, -300, 330], n)
    pad_user = r.random(n) < 0.1
    pad_text = r.random(n) < 0.1
    n_words = r.integers(3, 30, n)
    words = r.integers(0, 30, int(n_words.sum()))
    drop = r.random(n) < DROP_SHARE
    drop_kind = r.integers(0, 4, n)
    lines, ledger = [], []
    wpos = tpos = 0
    for i in range(n):
        if i > 0 and dup[i]:
            prev = ledger[dup_of[i]]
            tid, epoch = prev["id"], prev["epoch_us"] + int(dup_shift[i])
        else:
            tid, epoch = 10_000_000 + i, int(fresh[i])
        kind = i % 5
        epoch += int(frac[i])
        # keep only the precision the layout can carry
        epoch -= epoch % (1_000_000 if kind in (0, 4) else
                          1000 if kind == 3 else 1)
        uname = f"user{users[i]}"
        if pad_user[i]:
            uname = "  " + uname + " "
        k = int(n_words[i])
        text = " ".join(WORDS[j] for j in words[wpos:wpos + k])
        wpos += k
        if pad_text[i]:
            text = " " + text + "  "
        tags = [TAGS[t].upper() if up else TAGS[t] for t, up in
                zip(tag_idx[tpos:tpos + n_tags[i]],
                    tag_upper[tpos:tpos + n_tags[i]])]
        tpos += n_tags[i]
        if blank_tag[i]:
            tags.append(" ")
        malformed = False
        if drop[i]:
            which = drop_kind[i]
            if which == 0:
                text = None
            elif which == 1:
                text = "   "
            elif which == 2:
                uname = None
            else:
                malformed = True
        url = f"https://social.example/@{users[i]}/{tid}/{i}"
        rec = {"id": tid,
               "created_at": _fmt_created(epoch, kind, int(offsets[i])),
               "language": "en", "text": text, "hashtags": tags,
               "user_id": int(users[i]), "username": uname,
               "display_name": f"User {users[i]}", "favourites": k,
               "reblogs": int(n_tags[i]), "replies": 0, "url": url}
        line = json.dumps(rec)
        if malformed:
            line = line[: len(line) // 2]
        lines.append(line)
        ledger.append({"id": tid, "epoch_us": epoch, "username": uname,
                       "text": text, "hashtags": tags, "url": url,
                       "malformed": malformed})
    return lines, ledger


def write_toots(path, lines, ledger):
    """Write the corpus as JSON lines and its ledger as parquet beside it."""
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    pq.write_table(pa.Table.from_pylist(ledger, schema=LEDGER_SCHEMA),
                   path + ".ledger.parquet")


LEDGER_SCHEMA = pa.schema([
    ("id", pa.int64()), ("epoch_us", pa.int64()), ("username", pa.string()),
    ("text", pa.string()), ("hashtags", pa.list_(pa.string())),
    ("url", pa.string()), ("malformed", pa.bool_())])
