"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed always
writes byte-identical inputs. Nothing here touches the program under test.

  tables(dir, seed, scale)      TPC-H-shaped star schema + events stream,
                                the shape of the slate's fixture tables
  corpus(dir, seed, n_docs)     documents + embeddings with planted exact
                                duplicates, near-duplicates and shared
                                boilerplate spans (manifest.json lists them)
  deftunes(dir, seed, ...)      monthly API JSON payloads (users, sessions)
                                and the songs CSV of the reference pipeline
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window of to in is and an").split()


def _write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def _money(rng, lo, hi, n):
    """Uniform values with exactly two decimals, as the fixtures have."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _day_ts(rng, start, end, n):
    """Midnight timestamps between two dates, as datetime64[us]."""
    days = rng.integers(0, (end - start).days + 1, n)
    return (np.datetime64(start, "us") + days.astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def tables(out, seed, scale=0.1):
    """region, nation, customer, supplier, part, orders, lineitem, events.
    scale=0.1 gives sf0.1's row counts (600,000 lineitems)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150000 * scale), int(10000 * scale)
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_line, n_ev = int(6000000 * scale), int(1000000 * scale)
    ts = pa.timestamp("us")

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(
            np.array(COLORS)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part)
                               .astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_day_ts(rng, dt.date(1995, 1, 1),
                                        dt.date(2001, 8, 1), n_ord), ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": pa.array(_day_ts(rng, dt.date(1995, 1, 2),
                                       dt.date(2001, 11, 4), n_line), ts)})
    secs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       secs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def corpus(out, seed, n_docs=5000, n_vecs=2000, n_names=3000):
    """documents.parquet + embeddings.parquet + customer.parquet (names
    for the edit-distance join) + manifest.json.

    Planted structure, recorded in the manifest so checks can demand it:
      exact_dups   [(original, copy)]      copy has the identical text
      near_dups    [(original, copy)]      copy differs in one token
      boilerplate  the 12-token span shared by every `boiler_docs` doc
      vec_dups     [(original, copy)]      copy = original + tiny noise
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    boiler = " ".join(words[rng.integers(0, len(WORDS), 12)])
    texts, boiler_docs = [], []
    for i in range(n_docs):
        toks = list(words[rng.integers(0, len(WORDS), rng.integers(20, 90))])
        if rng.random() < 0.05:
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = boiler.split()
            boiler_docs.append(i)
        texts.append(" ".join(toks))
    exact, near = [], []
    n_plant = max(2, n_docs // 50)
    victims = rng.choice(np.arange(n_docs // 2, n_docs), 2 * n_plant,
                         replace=False)
    originals = rng.choice(np.arange(0, n_docs // 2), 2 * n_plant,
                           replace=False)
    for k, (src, dst) in enumerate(zip(originals, victims)):
        src, dst = int(src), int(dst)
        if dst in boiler_docs:
            boiler_docs.remove(dst)
        if src in boiler_docs:
            boiler_docs.remove(src)
        if k < n_plant:
            texts[dst] = texts[src]
            exact.append((src, dst))
        else:
            # one token replaced by a token absent from the vocabulary,
            # so the copy is a near duplicate but never an exact one
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = "zzplanted"
            texts[dst] = " ".join(toks)
            near.append((src, dst))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(0, 0.12, (n_vecs, 64)).astype(np.float32)
    vdups = []
    for src, dst in zip(rng.choice(n_vecs // 2, 10, replace=False),
                        rng.choice(np.arange(n_vecs // 2, n_vecs), 10,
                                   replace=False)):
        vecs[dst] = vecs[src] + rng.normal(0, 1e-4, 64).astype(np.float32)
        vdups.append((int(src), int(dst)))
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    # fixed-width names over sparse keys: a pair is within one edit
    # exactly when the keys differ in one digit
    keys = np.sort(rng.choice(10 * n_names, n_names, replace=False))
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n_names), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_names),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_names)]})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"exact_dups": exact, "near_dups": near,
                   "boilerplate": boiler, "boiler_docs": boiler_docs,
                   "vec_dups": vdups}, f)


def deftunes(out, seed, months=3, users=1500, sessions=2500, songs=2000):
    """Per-window API payloads and the songs table, shaped as the
    reference's sources (FIXTURES.md A1-A3): users/<yyyy-mm>.json and
    sessions/<yyyy-mm>.json hold one JSON array each; songs.csv is the
    all-string RDS extract. Windows are the months from 2020-01."""
    os.makedirs(f"{out}/users", exist_ok=True)
    os.makedirs(f"{out}/sessions", exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    hexd = np.array(list("0123456789abcdef"))

    def uuid(n):
        h = hexd[rng.integers(0, 16, (n, 32))]
        return ["-".join(("".join(r[0:8]), "".join(r[8:12]),
                          "".join(r[12:16]), "".join(r[16:20]),
                          "".join(r[20:32]))) for r in h]

    n_artists = max(10, songs // 8)
    artist_ids = [f"AR{x:016d}" for x in rng.choice(10**15, n_artists,
                                                    replace=False)]
    song_ids = [f"SO{x:016d}" for x in rng.choice(10**15, songs,
                                                  replace=False)]
    song_artist = rng.integers(0, n_artists, songs)
    with open(f"{out}/songs.csv", "w") as f:
        f.write("song_id,track_id,title,release,year,artist_id,artist_mbid,"
                "artist_name,duration,artist_familiarity,artist_hotttnesss,"
                "track_7digitalid,shs_perf,shs_work\n")
        for i in range(songs):
            a = int(song_artist[i])
            f.write(",".join([
                song_ids[i], f"TR{int(rng.integers(0, 10**15)):016d}",
                f"Title {i}", f"Release {i % 97}",
                str(int(rng.integers(1960, 2020))), artist_ids[a],
                f"mbid-{a:05d}", f"Artist {a}",
                f"{rng.integers(6000, 60000) / 100:.2f}",
                f"{rng.integers(0, 1000) / 1000:.3f}",
                f"{rng.integers(0, 1000) / 1000:.3f}",
                str(int(rng.integers(1000, 9999999))),
                str(int(rng.integers(-1, 100))),
                str(int(rng.integers(-1, 100)))]) + "\n")

    places = [("New York", "US"), ("Berlin", "DE"), ("Paris", "FR"),
              ("Lagos", "NG"), ("Tokyo", "JP"), ("Lima", "PE"),
              ("Cairo", "EG"), ("Pune", "IN")]
    windows = []
    for m in range(months):
        start = dt.date(2020, 1 + m, 1)
        tag = start.strftime("%Y-%m")
        windows.append(start.isoformat())
        uids = uuid(users)
        with open(f"{out}/users/{tag}.json", "w") as f:
            json.dump([{
                "user_id": u, "user_lastname": f"Last{i}",
                "user_name": f"Name{i}",
                "user_since": (dt.date(2018, 1, 1) + dt.timedelta(
                    days=int(rng.integers(0, 700)))).isoformat(),
                "user_location": [f"{rng.integers(-9000, 9000) / 100:.2f}",
                                  f"{rng.integers(-18000, 18000) / 100:.2f}",
                                  *places[int(rng.integers(0, 8))],
                                  "UTC"]} for i, u in enumerate(uids)], f)
        sids = uuid(sessions)
        rows = []
        for s in sids:
            items = []
            for _ in range(int(rng.integers(1, 7))):
                k = int(rng.integers(0, songs))
                a = int(song_artist[k])
                items.append({
                    "song_id": song_ids[k], "song_name": f"Title {k}",
                    "artist_id": artist_ids[a], "artist_name": f"Artist {a}",
                    "price": int(rng.integers(50, 200)) / 100.0,
                    "currency": "USD", "liked": bool(rng.random() < 0.5),
                    "liked_since": (start + dt.timedelta(
                        days=int(rng.integers(0, 28)))).isoformat()})
            t = dt.datetime(start.year, start.month, 1) + dt.timedelta(
                seconds=int(rng.integers(0, 27 * 86400)))
            rows.append({"user_id": uids[int(rng.integers(0, users))],
                         "session_id": s,
                         "session_start_time": t.isoformat(),
                         "user_agent": "Mozilla/5.0 (bench)",
                         "session_items": items})
        with open(f"{out}/sessions/{tag}.json", "w") as f:
            json.dump(rows, f)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"windows": windows}, f)
