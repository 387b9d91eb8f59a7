"""Seeded inputs of the `ingest_drain` workload: OTel JSON log records in
the reference's producer shape (one record per line), in spool files of
the reference generator's flush size.

Template popularity is Zipf-like over a few hundred rhythm shapes
(template x service), so a few shapes dominate and a long tail is rare.
The same seed gives byte-identical files.
"""
import json
import os
import random

SERVICES = ["auth-service", "payment-service", "api-gateway", "user-service",
            "notification-service", "db-cluster", "search-service", "cache-proxy"]
SEVERITY_NUMBER = {"DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}
VERBS = ["processed", "rejected", "queued", "retried", "completed", "validated",
         "flushed", "synced"]
NOUNS = ["request", "payment"]
# (severity, body pattern): {n} is a number, {ip} an address; both are
# masked by template extraction, so each pattern is one template
PATTERNS = [("INFO", "{verb} {noun} {n} in {n} ms"),
            ("WARN", "slow {noun} {n}: {verb} after {n} ms"),
            ("ERROR", "{noun} {n} {verb} with status {n} from {ip}"),
            ("DEBUG", "cache lookup for {noun} {n} {verb}")]
SEED_EPOCH = 1758300000


def templates():
    """Template x service shapes, in a fixed order."""
    out = []
    for sev, pat in PATTERNS:
        for verb in VERBS:
            for noun in NOUNS:
                body = pat.replace("{verb}", verb).replace("{noun}", noun)
                out.append((sev, body))
    return [(svc, sev, body) for svc in SERVICES for sev, body in out]


def record(service, severity, body, ts):
    return json.dumps({"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": service}}]},
        "scopeLogs": [{"logRecords": [{
            "timeUnixNano": ts,
            "severityNumber": SEVERITY_NUMBER[severity],
            "severityText": severity,
            "body": {"stringValue": body}}]}]}]}, separators=(",", ":"))


def fill(rng, body):
    while "{n}" in body:
        body = body.replace("{n}", str(rng.randrange(1, 10000)), 1)
    while "{ip}" in body:
        body = body.replace("{ip}", ".".join(str(rng.randrange(1, 255)) for _ in range(4)), 1)
    return body


def events(rng, shapes, weights, n):
    for svc, sev, body in rng.choices(shapes, weights=weights, k=n):
        yield svc, sev, fill(rng, body)


def burst_word(rng, i):
    """A word unique to burst `i`: letters around the index, so template
    extraction (which masks free-standing numbers) keeps it whole."""
    return "mk" + "".join(rng.choice("abcdefghjkmnpqrstuvwxyz") for _ in range(4)) + f"{i}x"


DRAIN_FILES = 17
DRAIN_FLUSH = 1000
DRAIN_RATE = 100
DRAIN_BURSTS = 20
BURST_COPIES = 5
LATE_SHARE = 0.02
LATE_MAX_S = 15


def generate_drain(seed, out_dir):
    """Spool files of the `ingest_drain` workload: DRAIN_FILES flushes of
    DRAIN_FLUSH records (the reference generator's flush size), event time
    advancing DRAIN_RATE events per second from SEED_EPOCH. LATE_SHARE of
    the records are stamped up to LATE_MAX_S seconds early (out of order,
    within the drain's watermark). DRAIN_BURSTS planted novel bursts of
    BURST_COPIES records each sit at evenly spaced points of the first
    three quarters of event time; `bursts.txt` lists their words."""
    rng = random.Random(seed)
    shapes = templates()
    rng.shuffle(shapes)
    weights = [1.0 / (rank + 1) ** 1.1 for rank in range(len(shapes))]
    n = DRAIN_FILES * DRAIN_FLUSH
    recs = []
    for i, (svc, sev, body) in enumerate(events(rng, shapes, weights, n - DRAIN_BURSTS * BURST_COPIES)):
        ts = SEED_EPOCH * 10**9 + i * 10**9 // DRAIN_RATE
        if rng.random() < LATE_SHARE:
            ts -= rng.randrange(LATE_MAX_S * 10**9)
        recs.append((i, record(svc, sev, body, str(ts))))
    words = []
    for b in range(DRAIN_BURSTS):
        word = burst_word(rng, b)
        words.append(word)
        at = (b + 1) * (3 * len(recs) // 4) // DRAIN_BURSTS
        ts = SEED_EPOCH * 10**9 + at * 10**9 // DRAIN_RATE
        body = f"Unprecedented anomaly {word} in quantum relay"
        service = rng.choice(SERVICES)
        recs.extend((at, record(service, "FATAL", body, str(ts + c))) for c in range(BURST_COPIES))
    recs.sort(key=lambda r: r[0])
    os.makedirs(os.path.join(out_dir, "spool"), exist_ok=True)
    for f in range(DRAIN_FILES):
        chunk = recs[f * DRAIN_FLUSH:(f + 1) * DRAIN_FLUSH]
        with open(os.path.join(out_dir, "spool", f"flush-{f:05d}.jsonl"), "w") as out:
            out.write("\n".join(r for _, r in chunk) + "\n")
    with open(os.path.join(out_dir, "bursts.txt"), "w") as out:
        out.write("\n".join(words) + "\n")


if __name__ == "__main__":
    import sys
    generate_drain(int(sys.argv[1]), sys.argv[2])
