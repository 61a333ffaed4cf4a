"""Seeded input generator for the benchmark.

Two input families, both written from nothing but a seed:

* Sparkify inputs in the reference's layouts (`etl.py` reads
  `song_data/*/*/*/*.json` and `log_data/*/*/*.json`): one JSON object per
  song file under `song_data/A/B/C/`, one JSON-lines file per day under
  `log_data/2018/11/`. Song popularity is Zipf-distributed; about half of the
  NextSong plays match a catalog song on all three join legs (title, artist
  name, exact duration) and the rest miss on exactly one leg; non-NextSong
  events are mixed in; users switch `level` part-way through the month.
  `gen_sparkify` returns the row count of every output table, known by
  construction, for the correctness gate.

* The star-schema and corpus tables the query mixes read (`region` ...
  `embeddings`, one parquet file each), with the schemas, parquet types, key
  ranges and value distributions measured on the project's test corpus at
  sf0.01 and sf0.1 (the figures are in README.md).

The same seed always gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
HEX = "0123456789ABCDEF"
SYLLABLES = ["ka", "lo", "mi", "ra", "ne", "so", "tu", "vi", "da", "be",
             "ro", "ze", "ha", "ju", "pe", "qui", "xo", "ly", "fa", "go"]
WORDS = ["love", "night", "river", "fire", "dream", "heart", "road", "blue",
         "song", "light", "rain", "gold", "wild", "city", "moon", "dance",
         "home", "storm", "sky", "echo", "shadow", "summer", "ghost", "star"]
PAGES = ["Home", "Login", "Logout", "Settings", "Upgrade", "Downgrade",
         "About", "Help", "Add to Playlist", "Thumbs Up"]
AGENTS = ["Mozilla/5.0 (Windows NT 6.1; WOW64; rv:31.0) Gecko/20100101 Firefox/31.0",
          "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) AppleWebKit/537.36",
          "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/36.0"]
CITIES = ["Atlanta, GA", "Boston, MA", "Chicago, IL", "Denver, CO",
          "Houston, TX", "Portland, OR", "Seattle, WA", "Tampa, FL"]
# The corpus documents' vocabulary (sf0.01 and sf0.1: these 30 words, about
# equally frequent, plus "dup", which only marks near duplicates).
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
NOV_2018_MS = 1541030400000  # 2018-11-01T00:00:00Z
DAY_MS = 86_400_000


def _ident(rng, prefix, n, width=16):
    """`n` distinct ids like SOUPIRU12A6D4FA1E1."""
    seen, out = set(), []
    while len(out) < n:
        s = prefix + "".join(rng.choice(list(HEX + LETTERS), width))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _names(rng, n, parts, sep=" "):
    """`n` distinct multi-syllable names."""
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(2, 4))
        s = sep.join("".join(rng.choice(SYLLABLES, 2)).capitalize()
                     for _ in range(k)) if parts == "syl" else \
            " ".join(rng.choice(WORDS, k)).title()
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def gen_sparkify(out, seed, n_songs, n_artists, n_years, n_events, n_days,
                 n_users):
    """Write `out/song_data` and `out/log_data`; return expected table sizes."""
    rng = np.random.default_rng(seed)
    # --- catalog: unique song_id, unique title, unique duration ----------
    artist_ids = _ident(rng, "AR", n_artists)
    artist_names = _names(rng, n_artists, "syl")
    song_ids = _ident(rng, "SO", n_songs)
    titles = _names(rng, n_songs, "words")
    durations = np.round(rng.choice(np.arange(60_000, 600_000), n_songs,
                                    replace=False) / 1000.0 + 0.00031, 5)
    # Artists round-robin; the first half of the songs has year 0 and the
    # rest cycle through `n_years` years, so the number of (year, artist)
    # partitions the songs sink writes is the same for every seed.
    song_artist = np.arange(n_songs) % n_artists
    half = n_songs // 2
    song_year = np.where(np.arange(n_songs) < half, 0,
                         1970 + (np.arange(n_songs) // n_artists) % n_years)
    lat = rng.uniform(-60, 60, n_artists).round(5)
    lon = rng.uniform(-150, 150, n_artists).round(5)
    has_geo = rng.random(n_artists) < 0.5
    for i in range(n_songs):
        a = int(song_artist[i])
        a3 = "".join(rng.choice(list("ABC"), 2))
        track = "TRA" + a3 + "".join(rng.choice(list(HEX + LETTERS), 13))
        d = os.path.join(out, "song_data", track[2], track[3], track[4])
        os.makedirs(d, exist_ok=True)
        rec = {"num_songs": 1, "artist_id": artist_ids[a],
               "artist_latitude": float(lat[a]) if has_geo[a] else None,
               "artist_longitude": float(lon[a]) if has_geo[a] else None,
               "artist_location": CITIES[a % len(CITIES)] if has_geo[a] else "",
               "artist_name": artist_names[a], "song_id": song_ids[i],
               "title": titles[i], "duration": float(durations[i]),
               "year": int(song_year[i])}
        with open(os.path.join(d, track + ".json"), "w") as f:
            f.write(json.dumps(rec))
    # --- users: a level switch at a per-user instant ----------------------
    first = _names(rng, n_users, "syl", sep="")
    last = _names(rng, n_users, "syl", sep="")
    gender = rng.choice(["F", "M"], n_users)
    start_paid = rng.random(n_users) < 0.3
    switch_ms = NOV_2018_MS + rng.integers(0, n_days * DAY_MS, n_users)
    u_city = rng.integers(0, len(CITIES), n_users)
    u_agent = rng.integers(0, len(AGENTS), n_users)
    registration = (1540000000000 + rng.integers(0, 10**9, n_users)).astype(float)
    # --- events: distinct ms timestamps, Zipf song choice -----------------
    ts = NOV_2018_MS + np.sort(rng.choice(n_days * DAY_MS, n_events,
                                          replace=False))
    user = rng.integers(0, n_users, n_events)
    is_play = rng.random(n_events) < 0.8
    rank = np.minimum(rng.zipf(1.3, n_events), n_songs) - 1
    song_of_rank = rng.permutation(n_songs)
    song = song_of_rank[rank]
    # 0 = hit on all three legs; 1/2/3 = miss on title/length/artist only
    leg = np.where(rng.random(n_events) < 0.5, 0, rng.integers(1, 4, n_events))
    page = rng.choice(PAGES, n_events)
    day = (ts - NOV_2018_MS) // DAY_MS
    session = user * 100 + day + 1
    item = np.zeros(n_events, dtype=np.int64)
    next_item = {}
    for i in range(n_events):
        s = int(session[i])
        item[i] = next_item.get(s, 0)
        next_item[s] = item[i] + 1
    log_dir = os.path.join(out, "log_data", "2018", "11")
    os.makedirs(log_dir, exist_ok=True)
    handles = [open(os.path.join(log_dir, f"2018-11-{d + 1:02d}-events.json"), "w")
               for d in range(n_days)]
    plays = hits = 0
    play_users = set()
    for i in range(n_events):
        u = int(user[i])
        t = int(ts[i])
        paid = start_paid[u] != (t >= switch_ms[u])
        rec = {"artist": None, "auth": "Logged In", "firstName": first[u],
               "gender": str(gender[u]), "itemInSession": int(item[i]),
               "lastName": last[u], "length": None,
               "level": "paid" if paid else "free",
               "location": CITIES[u_city[u]], "method": "GET", "page": None,
               "registration": float(registration[u]),
               "sessionId": int(session[i]), "song": None, "status": 200,
               "ts": t, "userAgent": AGENTS[u_agent[u]], "userId": str(u + 1)}
        if is_play[i]:
            s = int(song[i])
            a = int(song_artist[s])
            k = int(leg[i])
            rec["page"] = "NextSong"
            rec["method"] = "PUT"
            rec["song"] = titles[s] + (" (Live)" if k == 1 else "")
            rec["length"] = float(durations[s]) + (0.5 if k == 2 else 0.0)
            rec["artist"] = artist_names[a] + (" Trio" if k == 3 else "")
            plays += 1
            hits += k == 0
            play_users.add(u)
        else:
            rec["page"] = str(page[i])
        handles[int(day[i])].write(json.dumps(rec) + "\n")
    for h in handles:
        h.close()
    return {"songs": n_songs, "artists": n_artists, "users": len(play_users),
            "time": plays, "songplays": hits, "next_song_events": plays}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def gen_tables(out, seed, scale):
    """Write the ten corpus tables; `scale` 1.0 is the shape of the test
    corpus at sf0.1 (150k orders, 600k line items, 100k events, 5k docs)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_li, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    # the corpus keeps at least 500 documents and 500 vectors at small scales
    n_doc, n_vec = max(int(5000 * scale), 500), max(int(2000 * scale), 500)
    n_users = int(15000 * scale)
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                              rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "PROMO", "ECONOMY",
                              "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    # ts is TIMESTAMP(MICROS, not adjusted to UTC), as in the corpus;
    # value is exponential with mean 50 (measured median 34.6, mean 49.6)
    ev_us = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_users // 10, 10), n_ev), i64),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Documents as measured on the corpus: 10-99 words drawn uniformly from
    # a 30-word vocabulary; no exact duplicates; 5% near duplicates, each
    # another document's text with " dup" appended (copies of copies occur).
    texts = [" ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 100))))
             for _ in range(n_doc)]
    # Every source is used once, so no two documents end up equal.
    sources = set()
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(i)
        while j == i or j in sources:
            j = int(rng.integers(0, n_doc))
        sources.add(j)
        texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.42, 0.15, 0.15, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
