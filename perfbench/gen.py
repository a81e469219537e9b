"""Seeded input generator for the benchmark.

Writes gzipped AWS ALB access-log files (the 30-field layout of
``sources.albgen``) and a geo-cache parquet, and returns the ground truth
the output checks compare against.  Everything is a pure function of
``(seed, spec)``:

- client IPs are drawn Zipf-distributed from a bounded population, plus
  one hot bot key that takes a fixed share of all lines, so sessions and
  rolling windows see repeat visitors and one skewed key;
- the geo cache covers a stated share of the population (the hot key is
  always cached), so both the join hits and the ``countryCode=UNK``
  partition are exercised;
- statuses mix 2xx/3xx/4xx/5xx, user agents mix humans and bots, and a
  few malformed lines (short arity, bad timestamp) must be dropped;
- file ``k`` holds events from the ``k``-th 5-minute slice, like the ALB
  delivery cadence, so a run spans several hours and two Eastern days.
"""

from __future__ import annotations

import bisect
import gzip
import itertools
import json
import os
import random
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta, timezone

# ---- traffic vocabulary -------------------------------------------------

HUMAN_UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/137.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.4 Mobile/15E148 Safari/604.1",
    "curl/8.5.0",
]
BOT_UAS = [
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "python-urllib/3.12",
]
HOT_BOT_UA = "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)"
METHODS = ["GET", "GET", "GET", "GET", "POST", "PUT", "DELETE"]
PATHS = [
    "/", "/api/items", "/api/items/17", "/api/users/42", "/api/cart",
    "/static/app.js", "/static/app.css", "/health", "/login", "/search",
    "/docs/getting-started", "/admin/panel",
]
STATUSES = [200] * 14 + [201, 301, 304, 400, 403, 404, 404, 500, 502, 503]
#: (countryName, countryCode, cities, isps)
GEO = [
    ("United States", "US", ["New York", "Ashburn", "Seattle"], ["Comcast", "Amazon.com"]),
    ("Germany", "DE", ["Berlin", "Frankfurt"], ["Deutsche Telekom", "Hetzner"]),
    ("India", "IN", ["Mumbai", "Bengaluru"], ["Reliance Jio", "Airtel"]),
    ("Brazil", "BR", ["Sao Paulo"], ["Claro"]),
    ("Japan", "JP", ["Tokyo", "Osaka"], ["NTT"]),
    ("France", "FR", ["Paris"], ["Orange"]),
    ("United Kingdom", "GB", ["London", "Manchester"], ["BT"]),
    ("Singapore", "SG", ["Singapore"], ["DigitalOcean"]),
]

#: 2025-05-26 03:40 UTC is 23:40 Eastern on the 25th, so an hour of
#: traffic straddles two Eastern days (two ``day=`` partitions).
BASE_TS = datetime(2025, 5, 26, 3, 40, 0, tzinfo=timezone.utc)
FILE_SPAN_S = 300
#: The most frequent IPs are always cached.
TOP_CACHED = 20


#: Traffic shape, the same for every workload: distinct client IPs drawn
#: Zipf(ZIPF_S); the hot bot key's share of lines; the share of the
#: population that is a bot; the share of the population the geo cache
#: holds; the share of malformed lines.
POPULATION = 3000
ZIPF_S = 1.1
HOT_SHARE = 0.04
BOT_SHARE = 0.08
CACHE_SHARE = 0.85
MALFORMED_RATE = 0.002


@dataclass(frozen=True)
class Spec:
    """Input size: ``files`` five-minute objects of ``lines_per_file``."""

    files: int
    lines_per_file: int

    def key(self) -> str:
        return f"f{self.files}x{self.lines_per_file}"


def _fmt_ts(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def _line(rng: random.Random, ts: datetime, ip: str, status: int, ua: str) -> str:
    """One well-formed line in the ALB layout ``sources.albgen`` emits."""
    t = _fmt_ts(ts)
    method = rng.choice(METHODS)
    url = f"https://app.example.com:443{rng.choice(PATHS)}"
    if rng.random() < 0.3:
        url += f"?page={rng.randrange(50)}"
    if rng.random() < 0.01:
        rpt = tpt = resppt = "-1"
    else:
        rpt = f"{rng.random() * 0.005:.3f}"
        tpt = f"{rng.random() * 0.8:.3f}"
        resppt = f"{rng.random() * 0.002:.3f}"
    return (
        f"h2 {t} app/bench-lb/abc123 {ip}:{rng.randrange(1024, 65_536)} "
        f"172.31.0.1:80 {rpt} {tpt} {resppt} {status} {status} "
        f"{rng.randrange(40, 2000)} {rng.randrange(100, 50_000)} "
        f'"{method} {url} HTTP/2.0" "{ua}" '
        f"TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elb:tg/bench "
        f'"Root=1-{rng.randrange(1 << 32):08x}" "app.example.com" "session-reused" '
        f'{rng.randrange(3)} {t} "waf,forward" "-" "-" "172.31.0.1:80" '
        f'"{status}" "-" "-" TID_{rng.randrange(1 << 60):016x}'
    )


def _malformed(rng: random.Random, good_line: str) -> str:
    """A line the parser must drop: too few tokens, or an unparseable
    timestamp in an otherwise well-formed line."""
    if rng.random() < 0.5:
        return " ".join(good_line.split(" ")[:12])
    head, _, rest = good_line.partition(" ")
    return f"{head} not-a-timestamp {rest.partition(' ')[2]}"


def _population(rng: random.Random, n: int) -> list[str]:
    ips: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        ip = (f"{rng.randrange(11, 223)}.{rng.randrange(256)}."
              f"{rng.randrange(256)}.{rng.randrange(1, 255)}")
        if ip not in ips:
            ips.add(ip)
            out.append(ip)
    return out


class Traffic:
    """The seeded population, cache and per-file line stream."""

    def __init__(self, seed: int, spec: Spec):
        self.seed = seed
        self.spec = spec
        rng = random.Random(f"perfbench:{seed}:population")
        self.population = _population(rng, POPULATION + 1)
        self.hot_ip = self.population.pop()
        # Zipf weights over a shuffled rank order (rank is not address order).
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(POPULATION)]
        self.cum_weights = list(itertools.accumulate(weights))
        # The uncached IPs come from below the top ranks, so the share of
        # lines that hit the cache stays close to the same for every seed.
        n_uncached = POPULATION - int(round(CACHE_SHARE * POPULATION))
        uncached = set(rng.sample(self.population[TOP_CACHED:], n_uncached))
        self.geo: dict[str, tuple[str, str, str, str]] = {}
        for ip in [ip for ip in self.population if ip not in uncached] + [self.hot_ip]:
            name, code, cities, isps = GEO[rng.randrange(len(GEO))]
            self.geo[ip] = (name, code, rng.choice(cities), rng.choice(isps))
        # A fixed bot subset of the population, so bots have sessions too.
        self.bots = set(rng.sample(self.population, int(BOT_SHARE * POPULATION)))

    def file_lines(self, k: int) -> tuple[list[str], dict]:
        """Lines of file ``k`` (time-sorted within its 5-minute slice) and
        their ground-truth tallies."""
        spec = self.spec
        rng = random.Random(f"perfbench:{self.seed}:file:{k}")
        start = BASE_TS + timedelta(seconds=k * FILE_SPAN_S)
        offsets = sorted(rng.randrange(FILE_SPAN_S * 1_000_000) for _ in range(spec.lines_per_file))
        truth = _empty_truth()
        lines: list[str] = []
        total = self.cum_weights[-1]
        for off in offsets:
            ts = start + timedelta(microseconds=off)
            if rng.random() < HOT_SHARE:
                ip = self.hot_ip
            else:
                ip = self.population[bisect.bisect_left(self.cum_weights, rng.random() * total)]
            bot = ip == self.hot_ip or ip in self.bots
            ua = HOT_BOT_UA if ip == self.hot_ip else rng.choice(BOT_UAS if bot else HUMAN_UAS)
            status = rng.choice(STATUSES)
            line = _line(rng, ts, ip, status, ua)
            truth["lines"] += 1
            truth["hot"] += ip == self.hot_ip
            if rng.random() < MALFORMED_RATE:
                lines.append(_malformed(rng, line))
                truth["malformed"] += 1
                continue
            lines.append(line)
            _tally(truth, ip, ts, status, bot, self.geo.get(ip))
        return lines, truth

    def geo_rows(self) -> list[dict]:
        rows = []
        for ip, (name, code, city, isp) in sorted(self.geo.items()):
            rows.append({
                "query": ip, "status": "success", "message": None,
                "country": name, "countryCode": code, "region": code,
                "regionName": city, "city": city, "lat": 0.0, "lon": 0.0,
                "isp": isp,
            })
        return rows


def _empty_truth() -> dict:
    return {
        "lines": 0, "malformed": 0, "good": 0, "cached": 0, "uncached": 0,
        "errors": 0, "bots": 0, "cached_bots": 0, "hot": 0, "ips": set(), "windows": {},
    }


def _tally(truth: dict, ip: str, ts: datetime, status: int, bot: bool, geo) -> None:
    truth["good"] += 1
    truth["ips"].add(ip)
    if status >= 400:
        truth["errors"] += 1
    if bot:
        truth["bots"] += 1
    if geo is None:
        truth["uncached"] += 1
        return
    truth["cached"] += 1
    truth["cached_bots"] += bot
    hour = ts.replace(minute=0, second=0, microsecond=0).strftime("%Y-%m-%dT%H:00:00")
    wkey = f"{hour}|{geo[0]}|{geo[2]}"
    truth["windows"][wkey] = truth["windows"].get(wkey, 0) + 1


def merge_truth(parts: list[dict]) -> dict:
    out = _empty_truth()
    for p in parts:
        for k in ("lines", "malformed", "good", "cached", "uncached", "errors", "bots",
                  "cached_bots", "hot"):
            out[k] += p[k]
        out["ips"] |= p.get("ips", set())
        for w, c in p["windows"].items():
            out["windows"][w] = out["windows"].get(w, 0) + c
    return out


def _write_geo_cache(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["query", "status", "message", "country", "countryCode", "region",
            "regionName", "city", "lat", "lon", "isp"]
    table = pa.table({c: [r[c] for r in rows] for c in cols})
    fetched = pa.array([datetime(2025, 5, 1)] * len(rows), pa.timestamp("us"))
    table = table.append_column("api_fetch_timestamp", fetched)
    table = table.cast(table.schema.set(cols.index("message"), pa.field("message", pa.string())))
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def generate(root: str, seed: int, spec: Spec) -> dict:
    """Write (or reuse) the inputs for ``(seed, spec)`` under ``root`` and
    return the manifest: file paths, geo-cache path, stats and truth.

    Outputs are cached per ``(seed, spec)``: a second call reads the
    manifest back, so generation never lands inside a timed region."""
    out = os.path.join(root, f"seed{seed}-{spec.key()}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    traffic = Traffic(seed, spec)
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    files, truths, gz_bytes = [], [], 0
    for k in range(spec.files):
        lines, truth = traffic.file_lines(k)
        path = os.path.join(logs, f"alb-{k:05d}.log.gz")
        data = gzip.compress(("\n".join(lines) + "\n").encode(), compresslevel=6, mtime=0)
        with open(path, "wb") as fh:
            fh.write(data)
        gz_bytes += len(data)
        files.append({"path": path, "gz_bytes": len(data), "truth": truth})
        truths.append(truth)
    geo_path = os.path.join(out, "geo_cache.parquet")
    geo_rows = traffic.geo_rows()
    _write_geo_cache(geo_path, geo_rows)
    total = merge_truth(truths)
    for f in files:
        del f["truth"]["ips"]
    stats = {
        "lines": total["lines"],
        "good_lines": total["good"],
        "malformed": total["malformed"],
        "gz_bytes": gz_bytes,
        "files": spec.files,
        "distinct_ips": len(total["ips"]),
        "cache_rows": len(geo_rows),
        "hot_key_share": round(total["hot"] / max(1, total["lines"]), 6),
        "cached_line_share": round(total["cached"] / max(1, total["good"]), 6),
    }
    manifest = {
        "seed": seed, "spec": asdict(spec), "hot_ip": traffic.hot_ip,
        "files": files, "geo_cache": geo_path, "stats": stats,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, manifest_path)
    return manifest


def truth_of(files: list[dict]) -> dict:
    """Ground truth of a subset of the manifest's files."""
    return merge_truth([f["truth"] for f in files])
