"""Seeded zip corpora for the ingest side of both workloads.

A corpus is a directory of `*.zip` archives plus `manifest.tsv`, one line
per entry: archive file name, entry name, body length, SHA-256 hex. The
hashes come from `hashlib`, independently of the program under test, so
the benchmark can check the program's rows against them.

Bodies are pure functions of (seed, body id): an entry that duplicates an
earlier body re-derives it from the earlier id, so archives can be built
in parallel worker processes and a seed always yields the same bytes.

    python3 perfbench/gen_corpus.py <workload> <seed> <out_dir>
"""
import hashlib
import math
import os
import random
import sys
import zipfile
from multiprocessing import Pool

KIB = 1024
# Fixed timestamp: the same seed must give byte-identical archives.
EPOCH = (1980, 1, 1, 0, 0, 0)

# Workload shapes. `archives` x `entries` bodies, sizes log-uniform in
# [lo, hi], drawn stratified within each archive so every archive (one
# Spark task) carries about the same bytes whatever the seed.
SHAPES = {
    # large bodies: inflate, SHA-256 and the Parquet sink do the work
    "ingest_bulk": dict(archives=16, entries=8, lo=16 * KIB, hi=4096 * KIB,
                        glob=None),
    # many tiny bodies: listing, per-archive tasks, header walks, glob skips
    "ingest_small_query_mix": dict(archives=80, entries=100, lo=200, hi=4 * KIB,
                         glob="**/*.txt"),
}
DUP_RATE = 0.05
SMALL_EXTS = ("txt", "json", "bin")

# Word list for compressible text bodies (deflates about 3:1).
_SYLL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va", "zu",
         "shi", "an", "or", "el", "ix", "um", "ber", "gen", "tol"]


def _rng(seed, *key):
    h = hashlib.blake2b(repr((seed,) + key).encode(), digest_size=8)
    return random.Random(int.from_bytes(h.digest(), "little"))


_POOL = {}


def _text_pool(seed):
    """1 MiB of seeded pseudo-words; text bodies are windows into it."""
    if seed not in _POOL:
        # one vocabulary for every seed, so text compresses alike; the
        # seed picks the word sequence
        v = _rng(0, "vocab")
        vocab = ["".join(v.choice(_SYLL) for _ in range(v.randint(1, 4)))
                 for _ in range(4000)]
        weights = [1.0 / (i + 1) for i in range(len(vocab))]
        words = _rng(seed, "words").choices(vocab, weights, k=200_000)
        pool = " ".join(words).encode()
        while len(pool) < 1 << 20:
            pool += b"\n" + pool
        _POOL[seed] = pool[: 1 << 20]
    return _POOL[seed]


def _body(seed, kind, body_id, size):
    r = _rng(seed, "body", body_id)
    if kind == "text":
        pool = _text_pool(seed)
        off = r.randrange(len(pool))
        out = bytearray()
        while len(out) < size:
            out += pool[off: off + size - len(out)]
            off = 0
        return bytes(out)
    return r.randbytes(size)


def _plan(workload, seed):
    """Every entry of the corpus as (archive, name, kind, method, body_id,
    size), in archive order; duplicates point at an earlier body_id."""
    s = SHAPES[workload]
    r = _rng(seed, "plan", workload)
    log_lo, log_hi = math.log(s["lo"]), math.log(s["hi"])
    plan, bodies = [], []  # bodies: (kind, method, size) per body_id
    by_slot = {}  # (stratum, kind) -> body ids, for duplicates of like size
    for a in range(s["archives"]):
        n = s["entries"]
        strata = list(range(n))
        r.shuffle(strata)
        for i, k in enumerate(strata):
            u = 0.25 + 0.5 * r.random()  # inner half of the stratum
            size = int(math.exp(log_lo + (k + u) / n * (log_hi - log_lo)))
            if s["glob"]:
                ext = r.choice(SMALL_EXTS)
                kind = "binary" if ext == "bin" else "text"
                name = f"d{i % 7}/f{a:04d}_{i:03d}.{ext}"
            else:
                # kinds alternate over the size strata, and the phase flips
                # from archive to archive: text and binary get the same
                # bytes whatever the seed
                kind = "text" if (k + a) % 2 == 0 else "binary"
                name = f"{kind}/{a:03d}_{i:03d}.{'txt' if kind == 'text' else 'bin'}"
            method = zipfile.ZIP_DEFLATED
            if kind == "binary" and (k // 2 + a // 2) % 2 == 0:
                method = zipfile.ZIP_STORED
            earlier = by_slot.setdefault((k, kind), [])
            if earlier and r.random() < DUP_RATE:
                body_id = r.choice(earlier)
                size = bodies[body_id][2]
            else:
                body_id = len(bodies)
                bodies.append((kind, method, size))
                earlier.append(body_id)
            plan.append((f"a{a:04d}.zip", name, kind, method, body_id, size))
    return plan


def _write_archive(args):
    seed, path, entries = args
    lines = []
    with zipfile.ZipFile(path + ".part", "w") as zf:
        for archive, name, kind, method, body_id, size in entries:
            body = _body(seed, kind, body_id, size)
            info = zipfile.ZipInfo(name, EPOCH)
            info.compress_type = method
            zf.writestr(info, body)
            lines.append(f"{archive}\t{name}\t{len(body)}\t"
                         f"{hashlib.sha256(body).hexdigest()}\n")
    os.replace(path + ".part", path)
    return lines


def glob_for(workload):
    return SHAPES[workload]["glob"]


def keep_for(workload):
    """The entry names the workload's glob keeps, decided without the
    program's glob engine: `**/*.txt` keeps every name ending in `.txt`."""
    if glob_for(workload) == "**/*.txt":
        return lambda name: name.endswith(".txt")
    return lambda name: True


def generate(workload, seed, out_dir):
    """Write the corpus once; a finished corpus (manifest present) is reused."""
    manifest = os.path.join(out_dir, "manifest.tsv")
    if os.path.exists(manifest):
        return manifest
    os.makedirs(out_dir, exist_ok=True)
    by_archive = {}
    for e in _plan(workload, seed):
        by_archive.setdefault(e[0], []).append(e)
    jobs = [(seed, os.path.join(out_dir, a), es)
            for a, es in sorted(by_archive.items())]
    with Pool() as pool:
        parts = pool.map(_write_archive, jobs)
    with open(manifest + ".part", "w") as f:
        for lines in parts:
            f.writelines(lines)
    os.replace(manifest + ".part", manifest)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
