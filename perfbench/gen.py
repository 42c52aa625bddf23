"""Seeded input generator for the perfbench workloads.

    gen.generate("levels_backfill", seed=7, out=DIR, ticks=N)

run.py calls `generate`, the module's only entry point. It writes
CosmOz-shaped parquet tables (raw_values, silo_data, intensity, stations,
the NMDB feed) or a curation corpus (documents + an eval benchmark) under
DIR, plus DIR/planted.json: the count of every planted row per rule, so
the benchmark can check the program's outputs against them. The same seed
gives byte-identical files; nothing outside DIR is read.

The level1 expectation is computed here from the generated rows with the
reference rules (pipeline/cosmoz_process_levels.py:340-429): lag of count
over the raw sequence, 29-minute equal-sensor near-duplicate drop, battery
< 10 -> flag 4, count outside [0.8, 1.2] x previous -> flag 1, first row of
a site skipped. Every planted feature is placed so that no two interact.
"""

import datetime as dt
import hashlib
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = 22
HOUR = 3600
SENSORS = ["count", "pressure1", "internal_temperature", "internal_humidity",
           "battery", "tube_temperature", "tube_humidity", "rain",
           "vwc1", "vwc2", "vwc3", "pressure2",
           "external_temperature", "external_humidity"]
TS = pa.timestamp("us", tz="UTC")
EPOCH_2022 = int(dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc).timestamp())

# planted shares of raw rows (each an isolated row, see _raw)
SHARE_BATTERY = 0.004
SHARE_JUMP = 0.004
SHARE_NEARDUP = 0.003
SHARE_P2_ZERO = 0.01
SHARE_P12_ZERO = 0.003
SHARE_T_ZERO = 0.01
SHARE_H_ZERO = 0.01
SHARE_TH_ZERO = 0.003
SHARE_INT_GAP = 0.02
SHARE_INT_ZERO = 0.005
SHARE_SILO_MISSING = 0.03

# history length of the backfill: the store is day-partitioned per site,
# so the write lays down SITES x BACKFILL_DAYS files
BACKFILL_DAYS = 6
# history of the intensity store the catch-up ticks append to
NMDB_HIST_DAYS = 7


def _write(table, path, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


def _ts(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000, type=TS)


def stations_table(rng):
    site = np.arange(1, SITES + 1, dtype=np.int32)
    count_base = rng.uniform(1500, 3000, SITES)
    sandy = (site % 4) == 1
    # n0_cal sits so the corrected count lands mid-band for both level3
    # rules (default [0.4, 1] x n0, sandy [0.5, 3] x n0): most rows valid
    n0 = np.where(sandy, count_base * 0.8, count_base * 1.45)
    t = pa.table({
        "site_no": site,
        "beta": rng.uniform(0.0072, 0.0078, SITES),
        "ref_pressure": rng.uniform(960.0, 1010.0, SITES),
        "ref_intensity": rng.uniform(95.0, 130.0, SITES),
        "elev_scaling": rng.uniform(1.0, 1.2, SITES),
        "latit_scaling": rng.uniform(0.9, 1.1, SITES),
        "n0_cal": n0,
        "bulk_density": rng.uniform(1.2, 1.6, SITES),
        "lattice_water_g_g": rng.uniform(0.01, 0.05, SITES),
        "soil_organic_matter_g_g": rng.uniform(0.01, 0.03, SITES),
        "alternate_algorithm": pa.array(
            ["sandy" if s else None for s in sandy], type=pa.string()),
    })
    return t, count_base


def _pick_isolated(rng, n, share, taken):
    """Indices in [2, n-2) for `share` of n rows, none adjacent to another
    planted index (so each planted row meets only ordinary neighbours)."""
    want = int(round(n * share))
    cand = rng.permutation(np.arange(2, n - 2))
    out = []
    for i in cand:
        if len(out) == want:
            break
        if taken[i - 1:i + 2].any():
            continue
        taken[i] = True
        out.append(i)
    return np.sort(np.asarray(out, dtype=np.int64))


def raw_site(rng, base, t0, hours):
    """One site's hourly raw_values rows plus planted rows; returns the
    column dict (time-sorted) and the planted counts."""
    n = hours
    h = np.arange(n)
    t = t0 + h * HOUR + rng.integers(0, 90, n)
    noise = np.clip(rng.standard_normal(n), -3, 3)
    count = np.round(base * (1 + 0.02 * np.sin(2 * np.pi * h / 24)
                             + 0.01 * noise)).astype(np.int64)
    p1 = 1000.0 + np.cumsum(rng.normal(0, 0.3, n)).clip(-40, 40)
    cols = {
        "count": count,
        "pressure1": p1,
        "internal_temperature": rng.uniform(10, 40, n),
        "internal_humidity": rng.uniform(10, 90, n),
        "battery": rng.normal(12.6, 0.2, n),
        "tube_temperature": rng.uniform(10, 40, n),
        "tube_humidity": rng.uniform(10, 90, n),
        "rain": np.where(rng.random(n) < 0.05,
                         rng.integers(1, 30, n).astype(np.float64), 0.0),
        "vwc1": rng.uniform(0, 0.5, n),
        "vwc2": rng.uniform(0, 0.5, n),
        "vwc3": rng.uniform(0, 0.5, n),
        "pressure2": p1 + rng.normal(0, 0.5, n),
        "external_temperature": rng.uniform(5, 35, n),
        "external_humidity": rng.uniform(20, 95, n),
    }
    taken = np.zeros(n, dtype=bool)
    battery = _pick_isolated(rng, n, SHARE_BATTERY, taken)
    cols["battery"][battery] = rng.uniform(5.0, 9.5, len(battery))
    jump = _pick_isolated(rng, n, SHARE_JUMP, taken)
    cols["count"][jump] = np.round(
        cols["count"][jump] * np.where(rng.random(len(jump)) < 0.5, 1.35, 0.65)
    ).astype(np.int64)
    p2z = rng.random(n) < SHARE_P2_ZERO
    p12z = rng.random(n) < SHARE_P12_ZERO
    cols["pressure2"][p2z | p12z] = 0.0
    cols["pressure1"][p12z] = 0.0
    tz = rng.random(n) < SHARE_T_ZERO
    hz = rng.random(n) < SHARE_H_ZERO
    thz = rng.random(n) < SHARE_TH_ZERO
    cols["external_temperature"][tz | thz] = 0.0
    cols["external_humidity"][hz | thz] = 0.0
    # near-duplicates: a copy of an ordinary row, every sensor field equal,
    # 10-25 minutes later (inside the 29-minute window, before the next hour)
    dup = _pick_isolated(rng, n, SHARE_NEARDUP, taken)
    order_t = np.concatenate([t, t[dup] + rng.integers(600, 1500, len(dup))])
    src = np.concatenate([np.arange(n), dup])
    order = np.argsort(order_t, kind="stable")
    out = {"time": order_t[order]}
    for c in SENSORS:
        out[c] = cols[c][src][order]
    planted = {
        "battery_lt_10": int(len(battery)), "count_jumps": int(len(jump)),
        "near_dups": int(len(dup)),
        "pressure2_zero": int((p2z | p12z).sum()),
        "pressure_both_zero": int(p12z.sum()),
        "ext_temperature_zero": int((tz | thz).sum()),
        "ext_humidity_zero": int((hz | thz).sum()),
    }
    return out, planted


def level1_expected(rows):
    """Level1 flag counts of one site's time-sorted raw rows (module doc)."""
    count = rows["count"]
    n = len(count)
    prev = np.concatenate([[np.nan], count[:-1].astype(np.float64)])
    # a row is a near-dup iff an earlier row within 29 min has every
    # sensor field equal; planted copies are the only equal pairs and sit
    # right after their source, so compare each row to its predecessor
    same = np.ones(n, dtype=bool)
    same[0] = False
    for c in SENSORS:
        same[1:] &= rows[c][1:] == rows[c][:-1]
    gap = np.concatenate([[np.inf], np.diff(rows["time"])])
    dup = same & (gap <= 29 * 60) & (gap > 0)
    keep = ~dup & ~np.isnan(prev)
    flag = np.zeros(n, dtype=np.int64)
    c = count.astype(np.float64)
    jump = (c < 0.8 * prev) | (c > 1.2 * prev)
    flag[jump] = 1
    flag[rows["battery"] < 10] = 4
    f = flag[keep]
    return {str(k): int((f == k).sum()) for k in (0, 1, 4)}


def raw_tables(rng, bases, t0, hours):
    per_site = []
    planted = {}
    flags = {"0": 0, "1": 0, "4": 0}
    for i, base in enumerate(bases):
        site = i + 1
        rows, p = raw_site(rng, base, t0, hours)
        for k, v in p.items():
            planted[k] = planted.get(k, 0) + v
        for k, v in level1_expected(rows).items():
            flags[k] += v
        rows["site_no"] = np.full(len(rows["time"]), site, dtype=np.int32)
        per_site.append(rows)
    cat = {c: np.concatenate([r[c] for r in per_site])
           for c in ["site_no", "time"] + SENSORS}
    return cat, planted, flags


def raw_arrow(cat, sel=None):
    if sel is None:
        sel = slice(None)
    d = {"site_no": pa.array(cat["site_no"][sel], type=pa.int32()),
         "time": _ts(cat["time"][sel])}
    for c in SENSORS:
        d[c] = cat[c][sel]
    d["flag"] = pa.array(np.zeros(len(cat["time"][sel]), dtype=np.int32))
    return pa.table(d)


def silo_table(rng, t0, days):
    d = np.arange(days)
    site = np.repeat(np.arange(1, SITES + 1, dtype=np.int32), days)
    day0 = np.tile(t0 + d * 86400, SITES)
    present = rng.random(len(site)) >= SHARE_SILO_MISSING
    n = int(present.sum())
    morning = pa.table({
        "site_no": site[present], "time": _ts(day0[present] + 8 * HOUR),
        "average_temperature": rng.uniform(5, 35, n),
        "average_humidity": rng.uniform(20, 95, n)})
    # the reference's "day end" is 11:59:59 AM: a 13:00 row must never win
    decoy = pa.table({
        "site_no": site[present], "time": _ts(day0[present] + 13 * HOUR),
        "average_temperature": np.full(n, 99.0),
        "average_humidity": np.full(n, 99.0)})
    return pa.concat_tables([morning, decoy]), {
        "silo_days_missing": int(len(site) - n), "silo_decoys": n}


def intensity_arrays(rng, t0, hours):
    """Hourly neutron-monitor feed per site with planted gaps and zeros."""
    h = np.arange(hours)
    sites, times, vals = [], [], []
    gaps = zeros = 0
    for s in range(1, SITES + 1):
        level = rng.uniform(95, 130)
        v = level * (1 + 0.03 * np.sin(2 * np.pi * h / (24 * 27))
                     + rng.normal(0, 0.005, hours))
        z = rng.random(hours) < SHARE_INT_ZERO
        v[z] = 0.0
        present = rng.random(hours) >= SHARE_INT_GAP
        gaps += int((~present).sum())
        zeros += int((z & present).sum())
        sites.append(np.full(int(present.sum()), s, dtype=np.int32))
        times.append(t0 + h[present] * HOUR)
        vals.append(v[present])
    return (np.concatenate(sites), np.concatenate(times),
            np.concatenate(vals)), {"intensity_gaps": gaps,
                                    "intensity_zeros": zeros}


def gen_levels_backfill(rng, out):
    hours = BACKFILL_DAYS * 24
    t0 = EPOCH_2022
    st, bases = stations_table(rng)
    cat, planted, flags = raw_tables(rng, bases, t0, hours)
    _write(st, f"{out}/in/stations/part-00000.parquet")
    _write(raw_arrow(cat), f"{out}/in/raw_values/part-00000.parquet",
           row_group_size=16384)
    silo, p = silo_table(rng, t0, hours // 24 + 1)
    planted.update(p)
    _write(silo, f"{out}/in/silo_data/part-00000.parquet")
    (s, t, v), p = intensity_arrays(rng, t0, hours)
    planted.update(p)
    _write(pa.table({"site_no": s, "time": _ts(t), "intensity": v,
                     "bad_data_flag": (v == 0.0).astype(np.int32)}),
           f"{out}/in/intensity/part-00000.parquet")
    planted["raw_rows"] = int(len(cat["time"]))
    planted["level1_flags"] = flags
    planted["start"] = t0
    planted["end"] = t0 + hours * HOUR
    return planted


def gen_cron(rng, out, ticks, hist_days):
    """History of `hist_days` plus `ticks` staged 12-hour appends of raw
    and feed rows, for the cron workloads. The history's intensity goes to
    the store `in/intensity`, laid out as the program's day-partitioned
    stores are, and to `intensity_hist`; the feed's history goes to `feed`;
    each tick's rows go to `stage/<table>/tick-<k>.parquet`."""
    t0 = EPOCH_2022
    # first tick at 14:00 on the day after the history: the reference's
    # cron runs at 02:00 and 14:00 (docker-compose `0 2,14 * * *`)
    first_tick = t0 + hist_days * 86400 + 14 * HOUR
    tick_times = first_tick + np.arange(ticks) * 12 * HOUR
    end = int(tick_times[-1])
    hours = (end - t0) // HOUR + 1
    st, bases = stations_table(rng)
    cat, planted, _ = raw_tables(rng, bases, t0, hours)
    _write(st, f"{out}/in/stations/part-00000.parquet")
    silo, p = silo_table(rng, t0, hours // 24 + 2)
    planted.update(p)
    _write(silo, f"{out}/in/silo_data/part-00000.parquet")
    (s, t, v), p = intensity_arrays(rng, t0, hours)
    planted.update(p)
    hist_end = first_tick - 12 * HOUR
    rt = cat["time"]
    _write(raw_arrow(cat, rt <= hist_end),
           f"{out}/in/raw_values/part-hist.parquet", row_group_size=16384)
    h = t <= hist_end
    _write(pa.table({"site_no": s[h], "time": _ts(t[h]), "intensity": v[h],
                     "bad_data_flag": (v[h] == 0.0).astype(np.int32)}),
           f"{out}/intensity_hist/part-00000.parquet")
    write_day_store(f"{out}/in/intensity", s[h], t[h], {
        "intensity": v[h], "bad_data_flag": (v[h] == 0.0).astype(np.int32)})
    _write(pa.table({"site_no": s[h], "time": _ts(t[h]), "intensity": v[h]}),
           f"{out}/feed/part-hist.parquet")
    prev = hist_end
    planted["tick_feed_rows"] = []
    for k, tk in enumerate(tick_times):
        sel = (rt > prev) & (rt <= tk)
        _write(raw_arrow(cat, sel),
               f"{out}/stage/raw_values/tick-{k:05d}.parquet")
        fs = (t > prev) & (t <= tk)
        planted["tick_feed_rows"].append(int(fs.sum()))
        _write(pa.table({"site_no": s[fs], "time": _ts(t[fs]),
                         "intensity": v[fs]}),
               f"{out}/stage/feed/tick-{k:05d}.parquet")
        prev = tk
    planted.update(catchup_expected(out, s, t, v, hist_end, tick_times))
    planted["raw_rows"] = int(len(rt))
    planted["history_days"] = hist_days
    planted["start"] = t0
    planted["history_end"] = int(hist_end)
    planted["ticks"] = [int(x) for x in tick_times]
    return planted


def write_day_store(root, site, t, cols):
    """A store in IncrementalRunner.upsertByDay's layout: one file per
    `site_no=<n>/day=<yyyy-mm-dd>` directory, holding `time` and `cols`."""
    day = t // 86400
    for sd in sorted(set(zip(site.tolist(), day.tolist()))):
        sel = (site == sd[0]) & (day == sd[1])
        name = dt.datetime.fromtimestamp(sd[1] * 86400, dt.timezone.utc)
        d = {"time": _ts(t[sel])}
        d.update({c: x[sel] for c, x in cols.items()})
        _write(pa.table(d), f"{root}/site_no={sd[0]}/"
               f"day={name:%Y-%m-%d}/part-00000.parquet")


def catchup_expected(out, s, t, v, hist_end, tick_times,
                     lookback_h=24, tol=0.2, max_gap_s=24 * HOUR):
    """The intensity store after each tick's `--mode nmdb-catchup`, by the
    reference's walk (nmdb/entrypoint.py:68-134): resume at the site's last
    stored hour (re-fetched), clamped to now - 24 h; stop at the first hour
    the feed lacks; flag a point that drifts more than 20 % from the
    previous valid point at most 24 h before it; upsert by (site, hour).
    Writes every tick's upserted rows to expect/upserts.parquet and
    returns the store's row and flagged counts after each tick."""
    feed = {}
    store = {}
    for site, tt, vv in zip(s.tolist(), t.tolist(), v.tolist()):
        feed.setdefault(site, {})[tt] = vv
        if tt <= hist_end:
            store.setdefault(site, {})[tt] = (vv, int(vv == 0.0))
    up = {"tick": [], "site_no": [], "time": [], "intensity": [],
          "bad_data_flag": []}
    rows_after, flagged_after = [], []
    for k, now in enumerate(tick_times.tolist()):
        for site in sorted(store):
            st, fd = store[site], feed[site]
            last = max(st)
            start = now - lookback_h * HOUR if now - last >= lookback_h * HOUR else last
            seed = max((x for x, (_, f) in st.items() if x < start and f == 0),
                       default=None)
            lv = (seed, st[seed][0]) if seed is not None else None
            hour = start
            while hour <= now and hour in fd:
                x = fd[hour]
                bad = (lv is not None and hour - lv[0] <= max_gap_s
                       and (x < (1.0 - tol) * lv[1] or x > (1.0 + tol) * lv[1]))
                if not bad:
                    lv = (hour, x)
                st[hour] = (x, int(bad))
                for c, val in zip(up, (k, site, hour, x, int(bad))):
                    up[c].append(val)
                hour += HOUR
        rows_after.append(sum(len(x) for x in store.values()))
        flagged_after.append(sum(f for x in store.values() for _, f in x.values()))
    _write(pa.table({"tick": pa.array(up["tick"], type=pa.int32()),
                     "site_no": pa.array(up["site_no"], type=pa.int32()),
                     "time": _ts(up["time"]),
                     "intensity": pa.array(up["intensity"], type=pa.float64()),
                     "bad_data_flag": pa.array(up["bad_data_flag"],
                                               type=pa.int32())}),
           f"{out}/expect/upserts.parquet")
    return {"catchup_rows_after": rows_after,
            "catchup_flagged_after": flagged_after}


STOP = ["the", "a", "of", "to"]
CURATE_DOCS = 15_000


def _vocab(rng, n, prefix=""):
    letters = np.array(list("abcdefghijklmnopqrstuvwxy"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add(prefix + "".join(rng.choice(letters, k)))
    return sorted(words)


class _Words:
    """Zipf-distributed corpus words with ~10 % stopwords, drawn in bulk."""

    def __init__(self, rng, vocab, n=1 << 22):
        ranks = np.arange(1, len(vocab) + 1)
        cdf = np.cumsum(1.0 / ranks)
        cdf /= cdf[-1]
        words = np.array(vocab + STOP, dtype=object)
        idx = np.searchsorted(cdf, rng.random(n))
        stop = rng.random(n) < 0.1
        idx[stop] = len(vocab) + rng.integers(0, 4, int(stop.sum()))
        self.words = words[idx]
        self.pos = 0

    def line(self, k):
        # never wrap: a repeated stretch of words could repeat a whole doc
        # and break the planted exact-duplicate count
        if self.pos + k > len(self.words):
            raise RuntimeError("word stream exhausted; raise _Words n")
        w = self.words[self.pos:self.pos + k]
        self.pos += k
        return " ".join(w)


SHINGLE_MOD = 1000000007
SHINGLE_MUL = 1000003


class _ShingleHasher:
    """The program's hashed word 3-shingles (TextOps.hashedShingles3): a
    token hashes to the first 60 bits of its md5 modulo 1e9+7, and a
    triple to ((h1 * B + h2) mod M * B + h3) mod M. Hash-equal shingles
    count as a match, so a doc can be flagged by a collision alone; the
    expected flag set is computed here with the same arithmetic."""

    def __init__(self):
        self.cache = {}

    def flagged(self, texts, bench_texts):
        """Indices of `texts` sharing a 3-shingle hash with any bench text."""
        def shingles(ts):
            toks = [t.split(" ") for t in ts]
            flat = list(itertools.chain.from_iterable(toks))
            for t in set(flat).difference(self.cache):
                d = hashlib.md5(t.encode("utf-8")).digest()
                self.cache[t] = (int.from_bytes(d[:8], "big") >> 4) % SHINGLE_MOD
            h = np.array(list(map(self.cache.__getitem__, flat)), dtype=np.int64)
            doc = np.repeat(np.arange(len(toks)), [len(d) for d in toks])
            sh = ((h[:-2] * SHINGLE_MUL + h[1:-1]) % SHINGLE_MOD
                  * SHINGLE_MUL + h[2:]) % SHINGLE_MOD
            inside = doc[:-2] == doc[2:]
            return sh[inside], doc[:-2][inside]
        bench, _ = shingles(bench_texts)
        sh, doc = shingles(texts)
        return set(np.unique(doc[np.isin(sh, np.unique(bench))]).tolist())


def gen_curate_docs(rng, n_docs, words, bench_docs):
    """Documents with planted exact duplicates, repeated lines, low-quality
    and contaminated docs (shares in the planted counts)."""
    n_dup = n_docs // 20
    n_low = n_docs // 20
    n_con = n_docs // 100
    n_rep = n_docs // 10
    n_norm = n_docs - n_dup - n_low - n_con - n_rep
    texts = []
    repeated_lines = 0
    widths = iter(rng.integers(8, 14, 20 * n_docs))

    def lines(k):
        return [words.line(int(next(widths))) for _ in range(k)]

    for k in rng.integers(5, 11, n_norm):
        texts.append("\n".join(lines(int(k))))
    for k in rng.integers(6, 11, n_rep):
        ls = lines(int(k))
        r = int(rng.integers(1, 3))
        for _ in range(r):
            ls.insert(int(rng.integers(1, len(ls) + 1)),
                      ls[int(rng.integers(0, len(ls)))])
        repeated_lines += r
        texts.append("\n".join(ls))
    for k in rng.integers(5, 11, n_con):
        ls = lines(int(k))
        b = bench_docs[int(rng.integers(0, len(bench_docs)))].split(" ")
        j = int(rng.integers(0, len(b) - 10))
        ls.insert(int(rng.integers(0, len(ls) + 1)), " ".join(b[j:j + 10]))
        texts.append("\n".join(ls))
    for k in rng.integers(10, 30, n_low):
        texts.append(" ".join(STOP[int(x)] for x in rng.integers(0, 4, k)))
    for i in rng.integers(0, n_norm, n_dup):
        texts.append(texts[int(i)])
    # the decontamination gate reads the line-deduped text
    dedup = ["\n".join(dict.fromkeys(t.split("\n"))) for t in texts]
    hit = _ShingleHasher().flagged(dedup, bench_docs)
    planted_con = set(range(n_norm + n_rep, n_norm + n_rep + n_con))
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table({"doc_id": ids[order],
                      "text": pa.array([texts[i] for i in order],
                                       type=pa.string())})
    kept = sum(1 for i in range(n_norm + n_rep) if i not in hit)
    planted = {"docs": n_docs, "exact_dups": n_dup, "low_quality": n_low,
               "contaminated_planted": n_con,
               "contaminated": len(hit),
               "contaminated_by_hash_collision": len(hit - planted_con),
               "planted_missed": len(planted_con - hit),
               "repeated_lines": repeated_lines, "kept": kept}
    return table, planted


def gen_curate(rng, out):
    words = _Words(rng, _vocab(rng, 4000))
    # eval words carry a prefix no corpus word has, so only the planted
    # verbatim slices can share a 3-shingle with the benchmark
    evocab = _vocab(rng, 3000, prefix="zq")
    bench = [" ".join(rng.choice(evocab, 30)) for _ in range(400)]
    _write(pa.table({"doc_id": np.arange(1, 401, dtype=np.int64) + 10**9,
                     "text": bench}), f"{out}/eval/part-00000.parquet")
    docs, planted = gen_curate_docs(rng, CURATE_DOCS, words, bench)
    _write(docs, f"{out}/in/documents/part-00000.parquet",
           row_group_size=4096)
    return planted


def generate(workload, seed, out, ticks=64):
    rng = np.random.default_rng([seed, 0x6b656e])
    if workload == "levels_backfill":
        planted = gen_levels_backfill(rng, out)
    elif workload == "levels_cron":
        planted = gen_cron(rng, out, ticks, hist_days=40)
    elif workload == "nmdb_catchup":
        planted = gen_cron(rng, out, ticks, hist_days=NMDB_HIST_DAYS)
    elif workload == "curate":
        planted = gen_curate(rng, out)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    planted["workload"] = workload
    planted["seed"] = seed
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)
    return planted

