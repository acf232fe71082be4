"""Seeded Google-Takeout generator for the pipeline benchmark.

Writes `<root>/<user>/MyActivity.json` files (a JSON array of
{header, title, titleUrl, time, products} objects, the layout
`TakeoutIngest` reads). Every byte is a function of (workload shape, seed):
the PRNG is splitmix64 over Python ints, so output does not depend on the
interpreter's `random` module.

Shape knobs, per cohort: user count, Zipf-distributed rows per user (the
head is the hot user), the day span on both sides of the -15d recency split,
and the title vocabulary size. Timestamps are built with `datetime` arithmetic,
so any day span yields valid calendar dates.
"""
import datetime
import json
import os

MASK = (1 << 64) - 1
EPOCH = datetime.datetime(1970, 1, 1)
BASE = datetime.datetime(2023, 1, 1)
RECENT_DAYS = 15
HEADERS = ["Search", "YouTube", "Maps", "Chrome"]
VERBS = ["Searched for", "Watched", "Visited", "Viewed"]
CONSONANTS = "bdfgklmnprstvz"
VOWELS = "aeiou"


class Rng:
    """splitmix64: tiny, fast, and stable across Python versions."""

    def __init__(self, *key):
        s = 0x9E3779B97F4A7C15
        for k in key:
            s = (s * 0x100000001B3 ^ (k & MASK)) & MASK
        self.state = s

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n

    def unit(self):
        return (self.next() >> 11) / float(1 << 53)


def word(k):
    """The k-th vocabulary word: consonant-vowel syllables, distinct per k."""
    out = []
    k += len(CONSONANTS) * len(VOWELS)  # at least two syllables
    while k:
        k, r = divmod(k, len(CONSONANTS) * len(VOWELS))
        out.append(CONSONANTS[r // len(VOWELS)] + VOWELS[r % len(VOWELS)])
    return "".join(out)


def zipf_sizes(n, top, s, floor):
    """Rows per user for ranks 1..n: top * rank^-s, never below `floor`."""
    return [max(floor, int(round(top / (r ** s)))) for r in range(1, n + 1)]


def stamp(seconds):
    return (EPOCH + datetime.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


def user_rows(rng, n_rows, recent_share, span_days, vocab, end_day, recent_days=RECENT_DAYS):
    """Rows for one user. `recent_share` of them fall on the user's last
    `recent_days` dates (inside the -15d split), the rest spread over the
    `span_days` before that. The last date always carries a row, so the
    user's max timestamp, and with it the split, is fixed by `end_day`."""
    end = BASE + datetime.timedelta(days=end_day)
    end_s = int((end - EPOCH).total_seconds())
    n_recent = max(1, int(round(n_rows * recent_share)))
    rows, secs = [], []
    for i in range(n_rows):
        if i == 0:
            day = 0
        elif i < n_recent:
            day = i % recent_days  # even spread over the recent dates
        else:
            day = recent_days + 1 + rng.below(max(1, span_days))
        sec = end_s - day * 86400 + rng.below(86400)
        # skewed word choice: a few hot words, a long tail
        w1 = word(int(vocab * rng.unit() ** 3))
        w2 = word(rng.below(vocab))
        header = HEADERS[rng.below(len(HEADERS))]
        secs.append(sec)
        rows.append({
            "header": header,
            "title": f"{VERBS[rng.below(len(VERBS))]} {w2} {w1}",
            "titleUrl": None if rng.below(5) == 0 else f"https://example.com/q?{w2}+{w1}",
            "time": stamp(sec),
            "products": [header],
        })
    return rows, secs


def write_user(root, user, rows):
    d = os.path.join(root, user)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "MyActivity.json"), "w") as f:
        json.dump(rows, f, separators=(",", ":"))


def chunks(secs, chunk=15):
    """Prompts the sessionizer needs for these rows: one per `chunk` rows
    of each UTC date."""
    per_day = {}
    for t in secs:
        per_day[t // 86400] = per_day.get(t // 86400, 0) + 1
    return sum(-(-n // chunk) for n in per_day.values())


def cohort(root, seed, tag, sizes, recent_share, span_days, vocab):
    """Write one cohort of users under `root`. Returns its totals: users,
    rows, and the sessionizer chunks over the recent split and over all
    rows (the prompts one pass needs)."""
    totals = {"users": len(sizes), "rows": 0, "recent_chunks": 0, "full_chunks": 0}
    for i, n in enumerate(sizes):
        user = f"{tag}{i:05d}"
        rng = Rng(seed, hash_tag(tag), i)
        end_day = 400 + rng.below(60)
        rows, secs = user_rows(rng, n, recent_share, span_days, vocab, end_day)
        write_user(root, user, rows)
        split = max(secs) - RECENT_DAYS * 86400
        totals["rows"] += n
        totals["recent_chunks"] += chunks([t for t in secs if t > split])
        totals["full_chunks"] += chunks(secs)
    return totals


def hash_tag(tag):
    h = 0xCBF29CE484222325
    for b in tag.encode():
        h = ((h ^ b) * 0x100000001B3) & MASK
    return h


# Cohort shapes per workload. Rows per user follow a Zipf law from `top`
# (the hot user) down to `floor`. `rate` is the open-loop arrival rate in
# users per second; `check_users` batch users are re-run as the reference.
SHAPES = {
    "pipeline_wide": {
        "batch": dict(users=40, top=90, s=0.2, floor=40, recent_share=0.6,
                      span_days=60, vocab=500),
        "standing": dict(users=20, top=40, s=0.0, floor=40, recent_share=0.6,
                         span_days=60, vocab=500),
        "arrival": dict(top=40, s=0.0, floor=40, recent_share=0.6, span_days=60,
                        vocab=500),
        "rate": 10.0,
        "check_users": 4,
    },
    "pipeline_deep": {
        "batch": dict(users=5, top=10000, s=1.2, floor=1000, recent_share=0.9,
                      span_days=300, vocab=3000),
        "standing": dict(users=20, top=200, s=0.5, floor=100, recent_share=0.5,
                         span_days=300, vocab=3000),
        "arrival": dict(top=100, s=0.0, floor=100, recent_share=0.5, span_days=300,
                        vocab=3000),
        "rate": 10.0,
        "check_users": 2,
    },
}


def make_inputs(work, workload, seed, tick_seconds):
    """All takeout inputs of one run under `work`: the batch cohort in
    `batch/`, the standing users in `ticks/`, and the users that arrive
    during the tick phase staged in `staged/` (run.py lands each by an
    atomic rename into `ticks/` when it is due). Returns the manifest."""
    shape = SHAPES[workload]
    n_arrivals = max(11, int(round(shape["rate"] * tick_seconds)))

    def write(part, tag, subdir, users):
        c = shape[part]
        return cohort(os.path.join(work, subdir), seed, tag,
                      zipf_sizes(users, c["top"], c["s"], c["floor"]),
                      c["recent_share"], c["span_days"], c["vocab"])

    batch = write("batch", "b", "batch", shape["batch"]["users"])
    standing = write("standing", "s", "ticks", shape["standing"]["users"])
    arrived = write("arrival", "a", "staged", n_arrivals)
    return {
        "workload": workload, "seed": seed, "batch": batch, "standing": standing,
        "arrivals": arrived, "rate_users_per_s": shape["rate"],
        "schedule": [[f"a{i:05d}", i / shape["rate"]] for i in range(n_arrivals)],
    }
