"""Seeded Segment NDJSON generator for the pipeline workloads.

`generate(workload, seed, out_dir)` writes gzip NDJSON files under
`out_dir/input` and returns a ledger: the outcome the loader must produce
from those files (rows per warehouse table, corrupt and unknown-type lines,
re-delivered messageIds, planted misfit cells, the users last-write-wins
winners). The same seed gives byte-identical files and an identical ledger.

Run `python3 perfbench/gen.py` for the self-test.
"""

import gzip
import hashlib
import json
import os
import random
import re
import sys
import tempfile

# Reserved table names; a track event normalizing to one of them lands in
# `esc_<name>` (model/EventSchema.DefaultTables).
RESERVED = ["tracks", "screens", "identities", "pages", "users", "aliases", "groups", "misfits"]

# Generator parameters per workload. `files` is at least the session's core
# count (gzip files cannot be split); shares are per delivered line;
# `redeliver_files` whole files are delivered a second time under a new name.
PARAMS = {
    "stream_fanout": {
        "files": 6,
        "events": 1500,
        "event_names": 3,
        "users": 20000,
        "type_mix": {"track": 0.6, "identify": 0.4},
        "items_max": 2,
        "corrupt_share": 0.003,
        "unknown_share": 0.003,
        "redeliver_files": 2,
        "max_files_per_trigger": 4,
        "misfit_share": 0.01,
        "span_minutes": 30,
    },
}

BASE_EVENT_NAMES = [
    "Product Viewed", "Users", "Product Added&Removed", "Order Completed",
    "Checkout Started", "Cart Viewed", "Coupon Applied", "Signed Up", "Video Played", "Search Performed",
    "Promotion Clicked", "Wishlist Updated", "Review Submitted", "Plan Upgraded",
    "Invite Sent", "Payment Failed", "Subscription Renewed", "Banner Closed",
    "Share Clicked", "Filter Applied", "Page Scrolled", "Form Submitted",
    "Trial Started", "Download Started",
]


def normalize_event_name(e):
    """Python twin of graft.util.Names.normalizeEventName."""
    s = e.replace(" ", "").replace("&", "and")
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1_\2", s)
    s = re.sub(r"([a-z\d])([A-Z])", r"\1_\2", s)
    return s.lower()


def table_for_event(e):
    n = normalize_event_name(e)
    return "esc_" + n if n in RESERVED else n


def iso(ms):
    """Epoch millis -> Segment-style ISO-8601 UTC string."""
    import datetime
    d = datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (ms % 1000)


def _context(rng):
    return {
        "app": {"name": rng.choice(["shop", "shopLite"]), "version": "v%d.%d.%d" % (
            rng.randint(1, 4), rng.randint(0, 9), rng.randint(0, 20)), "build": "b%d" % rng.randint(100, 999)},
        "device": {"model": rng.choice(["pixel", "iphone", "galaxy", "desktop"]),
                   "manufacturer": rng.choice(["google", "apple", "samsung", "dell"]),
                   "adTrackingEnabled": rng.random() < 0.5},
        "os": {"name": rng.choice(["android", "ios", "linux", "macos"]), "version": "os-%d" % rng.randint(10, 17)},
        "library": {"name": "analytics-js", "version": "lib-4"},
        "locale": rng.choice(["en-US", "de-DE", "fr-FR", "ja-JP"]),
        "campaign": {"source": rng.choice(["mail", "ads", "social"]), "medium": rng.choice(["cpc", "organic"]),
                     "name": "c%d" % rng.randint(1, 40)},
        "screen": {"width": rng.choice([360, 390, 1280, 1920]), "height": rng.choice([640, 844, 720, 1080])},
        "traits": {"tier": rng.choice(["free", "pro", "team"])},
    }


def _items(rng, n):
    return [{"sku": "sku-%05d" % rng.randint(0, 99999), "price": round(rng.uniform(1, 200), 2),
             "qty": rng.randint(1, 5), "variant": {"color": rng.choice(["red", "blue", "black"]),
                                                    "size": rng.choice(["S", "M", "L"])}}
            for _ in range(n)]


def generate(workload, seed, out_dir, **overrides):
    p = dict(PARAMS[workload], **overrides)
    rng = random.Random("%s:%d" % (workload, seed))
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)

    names = BASE_EVENT_NAMES[: p["event_names"]]
    assert "Users" in names  # the esc_ route is always exercised
    types = list(p["type_mix"])
    weights = [p["type_mix"][t] for t in types]
    t0 = 1704067200000 + rng.randint(0, 86400) * 1000  # 2024-01-01 + jitter
    span_ms = p["span_minutes"] * 60000
    n_files = p["files"]
    per_file = p["events"] // n_files

    files = []          # (name, [lines])
    rows = {}           # messageId -> parsed row of a known type (first delivery)
    first_drift = set()  # (file, event) pairs whose drift cell is forced numeric
    planted = []        # (messageId, table, column)
    unknown = 0
    corrupt = 0
    seq = 0
    for f in range(n_files):
        lines = []
        for j in range(per_file):
            seq += 1
            r = rng.random()
            if r < p["corrupt_share"]:
                lines.append("<<corrupt line %d:%d>>" % (seed, seq))
                corrupt += 1
                continue
            # timestamps rise with the file index, so a file never arrives
            # later than the dedup watermark allows
            ts = t0 + (span_ms * (f * per_file + j)) // (n_files * per_file) + rng.randint(0, 999)
            mid = "m-%d-%08d" % (seed, seq)
            if r < p["corrupt_share"] + p["unknown_share"]:
                t = "heartbeat"
            else:
                t = rng.choices(types, weights)[0]
            uid = "u-%06d" % rng.randint(0, p["users"] - 1)
            row = {"messageId": mid, "anonymousId": "a-%07d" % rng.randint(0, 9999999),
                   "type": t, "timestamp": iso(ts), "receivedAt": iso(ts + 800),
                   "sentAt": iso(ts + 200), "ip": "10.%d.%d.%d" % (rng.randint(0, 255), rng.randint(0, 255),
                                                                  rng.randint(1, 254)),
                   "channel": rng.choice(["mobile", "web", "server"]),
                   "writeKey": rng.choice(["wk-android", "wk-ios", "wk-web"]),
                   "context": _context(rng)}
            if t == "track":
                e = rng.choice(names)
                row["event"] = e
                if rng.random() < 0.8:
                    row["userId"] = uid
                props = {"cartValue": round(rng.uniform(1, 500), 2),
                         "items": _items(rng, rng.randint(0, p["items_max"])),
                         "coupon": {"code": "cp-%d" % rng.randint(1, 50), "pct": rng.randint(5, 40)},
                         "itemCount": rng.randint(1, 30)}
                # planted type drift: itemCount is numeric, then "twelve".
                # The first row of each event in each file stays numeric, so
                # the smallest messageId of every batch types the column.
                if (f, e) not in first_drift:
                    first_drift.add((f, e))
                elif rng.random() < p["misfit_share"]:
                    props["itemCount"] = "twelve"
                    planted.append((mid, table_for_event(e), "properties_item_count"))
                row["properties"] = props
            elif t == "identify":
                row["userId"] = uid
                row["traits"] = {"email": "%s@example.com" % uid, "planTier": rng.randint(1, 4),
                                 "address": {"city": rng.choice(["berlin", "paris", "tokyo", "austin"]),
                                             "zip": "z%05d" % rng.randint(0, 99999)},
                                 "createdAt": iso(t0 - rng.randint(0, 10 ** 9))}
            if t == "heartbeat":
                unknown += 1
            else:
                rows[mid] = row
            lines.append(json.dumps(row, separators=(",", ":"), sort_keys=True))
        files.append(("part-%03d.json.gz" % f, lines))

    # re-delivery: whole files arrive a second time under a new name, after
    # their originals; the dedup watermark must drop their messageIds
    redelivered = 0
    redelivered_unknown = 0
    redelivered_corrupt = 0
    for k in range(p["redeliver_files"]):
        i = 1 + k * (n_files - 1) // p["redeliver_files"]
        again = list(files[i][1])
        files.append(("part-%03d-redelivered.json.gz" % i, again))
        for x in again:
            if x.startswith("<<"):
                redelivered_corrupt += 1
            elif json.loads(x)["type"] == "heartbeat":
                redelivered_unknown += 1
            else:
                redelivered += 1

    input_bytes = 0
    lines_total = 0
    for k, (fname, lines) in enumerate(files):
        path = os.path.join(in_dir, fname)
        with open(path, "wb") as fh:
            with gzip.GzipFile(filename="", mode="wb", fileobj=fh, mtime=0) as gz:
                gz.write(("\n".join(lines) + "\n").encode("utf-8"))
        # the streaming file source takes files in modification-time order
        os.utime(path, (1704067200 + k, 1704067200 + k))
        input_bytes += os.path.getsize(path)
        lines_total += len(lines)

    # expected outcome: one row per distinct messageId ------------------------
    tables = {"tracks": 0, "identities": 0, "users": 0}
    per_event = {}
    winners = {}
    for mid, row in rows.items():
        if row["type"] == "track":
            tables["tracks"] += 1
            tn = table_for_event(row["event"])
            per_event[tn] = per_event.get(tn, 0) + 1
        else:
            tables["identities"] += 1
            key = (row["timestamp"], mid)  # ISO ms strings sort as instants
            cur = winners.get(row["userId"])
            if cur is None or key > cur:
                winners[row["userId"]] = key
    tables["users"] = len(winners)
    tables.update(per_event)
    # a table exists only when some row reached it
    tables = {t: n for t, n in tables.items() if n > 0}
    ledger = {
        "workload": workload,
        "seed": seed,
        "params": p,
        "files": [f[0] for f in files],
        "input_bytes": input_bytes,
        "lines": lines_total,
        "events": lines_total - corrupt - redelivered_corrupt,
        "corrupt": corrupt + redelivered_corrupt,
        "unknown_type": unknown + redelivered_unknown,
        "redelivered": redelivered,
        "distinct_message_ids": len(rows),
        "distinct_keys": len(rows) + unknown,
        "tables": tables,
        "misfits": len(set(planted)),
        "users": {u: k[1] for u, k in sorted(winners.items())},
    }
    with open(os.path.join(out_dir, "ledger.json"), "w") as fh:
        json.dump(ledger, fh, sort_keys=True)
    return ledger


def _digest(d):
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as fh:
                h.update(n.encode() + b"\0" + fh.read())
    return h.hexdigest()


def selftest():
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        for w in PARAMS:
            a, b, c = (os.path.join(tmp, w + x) for x in "abc")
            small = {"events": 1600}
            la, lb, lc = generate(w, 7, a, **small), generate(w, 7, b, **small), generate(w, 8, c, **small)
            assert la == lb and _digest(a) == _digest(b), w + ": same seed must give identical output"
            assert la != lc and _digest(a) != _digest(c), w + ": another seed must give other output"
            assert la["misfits"] > 0 and la["corrupt"] > 0 and la["unknown_type"] > 0, w
            assert la["redelivered"] > 0 and "esc_users" in la["tables"], w
            assert len(la["files"]) >= la["params"]["files"], w
            print("gen selftest %s ok: %d lines, %d files, %d tables, %d misfits"
                  % (w, la["lines"], len(la["files"]), len(la["tables"]), la["misfits"]))


if __name__ == "__main__":
    selftest()
    sys.exit(0)
