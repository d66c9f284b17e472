"""Seeded input generators for spot_daemon and doc_daemon (board_hot's
are in gen_board.py).

Everything here is a pure function of the seed: the same seed writes the
same files. The program under test only ever sees these files.
"""
import json
import math
import os
import random

# -- spot_daemon --------------------------------------------------------------

# Dial frequencies (MHz) of the WSPR bands, plus one outside the band map so
# the enrichment's "unknown band" path runs.
_BANDS = [(0.1375, -1), (0.4756, 0), (1.8366, 1), (3.5686, 3), (5.2872, 5),
          (7.0386, 7), (10.1387, 10), (14.0956, 14), (18.1046, 18),
          (21.0946, 21), (24.9246, 24), (28.1246, 28), (50.293, 50),
          (144.489, 144), (432.300, 432), (99.0, 9999)]
_POWERS = [0, 3, 7, 10, 13, 17, 20, 23, 27, 30, 33, 37, 40, 43]
DROPS_PER_ROUND = 4
MIN_DROP, MAX_DROP = 100, 9999


def _grid(r):
    g = (chr(65 + r.randrange(18)) + chr(65 + r.randrange(18)) +
         str(r.randrange(10)) + str(r.randrange(10)))
    if r.random() < 0.6:
        sub = chr(97 + r.randrange(24)) + chr(97 + r.randrange(24))
        g += sub if r.random() < 0.7 else sub.upper()
    return g


def _call(r):
    c = (r.choice("KWNGMFDEIJ") + r.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ0") +
         str(r.randrange(10)) + "".join(r.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                                        for _ in range(r.randrange(1, 4))))
    return c + "/P" if r.random() < 0.05 else c


def _spot(r, spotnum, date, tx, rx):
    mhz, band = r.choice(_BANDS)
    return ('{"Spotnum": %d, "Date": %d, "Reporter": "%s", "ReporterGrid": "%s", '
            '"dB": %d, "MHz": %.6f, "CallSign": "%s", "Grid": "%s", "Power": %d, '
            '"Drift": %d, "distance": %d, "azimuth": %d, "Band": %d, '
            '"version": "2.3.0", "code": 1}') % (
        spotnum, date, rx[0].replace("/", "\\/"), rx[1], r.randrange(-30, 11),
        mhz + r.randrange(200) * 1e-6, tx[0].replace("/", "\\/"), tx[1],
        r.choice(_POWERS), r.randrange(-2, 3), r.randrange(20000),
        r.randrange(360), band)


def _stratified_sizes(r, n):
    """n drop sizes covering [MIN_DROP, MAX_DROP] log-uniformly: one per
    stratum of the log range, near its middle, so every round and every seed
    sees the same size mix; order shuffled."""
    span = math.log10(MAX_DROP / MIN_DROP)
    sizes = [min(MAX_DROP, int(MIN_DROP * 10 ** (span * (k + 0.4 + 0.2 * r.random()) / n)))
             for k in range(n)]
    r.shuffle(sizes)
    return sizes


def spot_inputs(out, seed, rounds):
    """Drop files for `rounds` rounds of DROPS_PER_ROUND drops, plus a small
    warm-up file. Each drop re-fetches ~10% of the previous drop's
    rows, skips a few runs of >=2 ids and lists its rows out of order.
    Writes spot/manifest.csv: round,file,rows,new_rows,max_spotnum."""
    r = random.Random(seed * 7919 + 1)
    calls = [(_call(r), _grid(r)) for _ in range(3000)]
    reporters = [(_call(r), _grid(r)) for _ in range(600)]
    base_date = 1614159000 + r.randrange(10 ** 6) * 120
    os.makedirs(f"{out}/spot/drops")

    def batch(first_id, n, date0):
        ids, cur = [], first_id
        gaps = set(r.sample(range(1, n), min(3, n - 1))) if n > 1 else set()
        for i in range(n):
            if i in gaps:
                cur += r.randrange(2, 6)
            ids.append(cur)
            cur += 1
        return [_spot(r, s, date0 + (s - first_id) // 40 * 120,
                      r.choice(calls), r.choice(reporters)) for s in ids], ids[-1]

    rows, _ = batch(10 ** 9, 200, base_date)
    with open(f"{out}/spot/warm.json", "w") as f:
        f.write("[" + ",\n".join(rows) + "]")

    manifest, prev, next_id = [], [], 2_700_000_000 + r.randrange(10 ** 8)
    date = base_date
    for rd in range(rounds):
        for k, size in enumerate(_stratified_sizes(r, DROPS_PER_ROUND)):
            n_re = min(len(prev) // 10, size // 2)
            refetch = prev[len(prev) - n_re:]
            fresh, max_id = batch(next_id, size - len(refetch), date)
            date += 120 * (1 + (size - len(refetch)) // 40)
            next_id = max_id + 1 + (r.randrange(2, 6) if r.random() < 0.3 else 0)
            rows = fresh + refetch
            r.shuffle(rows)
            name = f"{rd:03d}_{k:02d}.json"
            with open(f"{out}/spot/drops/{name}", "w") as f:
                f.write("[" + ",\n".join(rows) + "]")
            manifest.append(f"{rd},{name},{len(rows)},{len(fresh)},{max_id}")
            prev = fresh
    with open(f"{out}/spot/manifest.csv", "w") as f:
        f.write("\n".join(manifest) + "\n")


# -- doc_daemon ---------------------------------------------------------------

VOCAB = 10000
DOC_WORDS = (20, 40)
DOCS_PER_BATCH = 50


def _zipf_word(r):
    # rank k with P(k) ~ 1/k, by the continuous inverse CDF k = V^u
    return "w%d" % max(1, min(VOCAB, int(VOCAB ** r.random())))


def doc_inputs(out, seed, batches):
    """JSONL document batches in the fixture's document schema. From the
    second batch on, each holds ~10% re-deliveries (an earlier batch's
    admitted doc, same id and text), ~10% near-dups (an earlier admitted
    doc's text with one word replaced, under a new id) and novel docs.
    Writes doc/expected.csv: batch,file,rows,novel_ids(space separated);
    only novel docs should be admitted."""
    r = random.Random(seed * 104729 + 3)
    os.makedirs(f"{out}/doc/batches")

    def novel(doc_id):
        n = r.randrange(*DOC_WORDS)
        return doc_id, " ".join(_zipf_word(r) for _ in range(n))

    def line(doc_id, text):
        return json.dumps({"doc_id": doc_id, "text": text, "lang": "en",
                           "source": "src%d" % (doc_id % 7),
                           "n_chars": len(text)})

    admitted, expected, next_id = [], [], 1 + r.randrange(10 ** 6) * 1000
    for b in range(batches):
        rows, fresh = [], []
        for _ in range(DOCS_PER_BATCH):
            roll = r.random()
            if admitted and roll < 0.10:
                rows.append(r.choice(admitted))
            elif admitted and roll < 0.20:
                toks = r.choice(admitted)[1].split(" ")
                toks[r.randrange(len(toks))] = "edited%d" % r.randrange(100)
                rows.append((next_id, " ".join(toks)))
                next_id += 1
            else:
                d = novel(next_id)
                next_id += 1
                rows.append(d)
                fresh.append(d)
        r.shuffle(rows)
        name = f"{b:04d}.json"
        with open(f"{out}/doc/batches/{name}", "w") as f:
            f.write("\n".join(line(*d) for d in rows) + "\n")
        admitted.extend(fresh)
        expected.append(f"{b},{name},{len(rows)},"
                        + " ".join(str(d[0]) for d in fresh))
    with open(f"{out}/doc/expected.csv", "w") as f:
        f.write("\n".join(expected) + "\n")
