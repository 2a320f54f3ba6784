"""Seeded tree generator for the directory-hash benchmark.

Every tree is a pure function of (seed, kind, index): the same arguments
give the same names and the same bytes. Trees are written only under the
root the caller passes.
"""
import math
import os
import random

MIB = 1 << 20
BIGFILES_BLOCK = 32 * MIB

ASCII_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"
# Latin-1, CJK and one astral-plane character, plus the space and `%`
# that a URI-based path layer must escape
UNICODE_CHARS = ["ü", "é", "ß", "ñ", "数", "据", "文", "件", "𝄞"]


def _rng(seed, *parts):
    return random.Random("/".join(str(p) for p in (seed,) + parts))


def _write(path, pool, rng, size):
    """Writes `size` bytes made of seeded rotations of `pool`."""
    with open(path, "wb") as f:
        left = size
        while left:
            o = rng.randrange(len(pool))
            seg = pool[o:o + left]
            f.write(seg)
            left -= len(seg)


def _name(rng, kind, ext):
    n = rng.randint(3, 12)
    chars = [rng.choice(ASCII_CHARS) for _ in range(n)]
    # a few names carry a space or a `%` escape-lookalike
    if rng.random() < 0.15:
        chars.insert(rng.randrange(len(chars) + 1), " ")
    if rng.random() < 0.05:
        chars.insert(rng.randrange(len(chars) + 1), "%2")
    if kind == "unicode" and rng.random() < 0.5:
        chars.insert(rng.randrange(len(chars) + 1), rng.choice(UNICODE_CHARS))
    return "".join(chars).strip() + ext


def _sizes(rng, n):
    """Heavy-tailed sizes 0 B..4 MiB: ~5% empty, the rest lognormal
    (median 2 KiB, sigma 2) drawn one per stratum, so the total varies
    little between seeds while the tail keeps its multi-MiB files."""
    mu, sigma = math.log(2048), 2.0
    sizes = []
    for i in range(n):
        if rng.random() < 0.05:
            sizes.append(0)
            continue
        q = (i + 0.25 + 0.5 * rng.random()) / n
        z = _inv_norm(q)
        sizes.append(max(1, min(4 * MIB, int(math.exp(mu + sigma * z)))))
    rng.shuffle(sizes)
    return sizes


def _inv_norm(p):
    # Acklam's rational approximation of the standard normal quantile
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    if p < 0.02425:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) / \
            ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1)
    if p > 1 - 0.02425:
        return -_inv_norm(1 - p)
    q = p - 0.5
    r = q * q
    return (((((a[0]*r+a[1])*r+a[2])*r+a[3])*r+a[4])*r+a[5])*q / \
        (((((b[0]*r+b[1])*r+b[2])*r+b[3])*r+b[4])*r+1)


def bigfiles(root, seed, total):
    """A handful of large files (~`total` bytes in all, no size a multiple
    of the 32 MiB block), one empty file and one file smaller than a
    block."""
    rng = _rng(seed, "bigfiles", total)
    pool = rng.randbytes(16 * MIB)
    os.makedirs(os.path.join(root, "set a"))
    os.makedirs(os.path.join(root, "set-b", "deep"))
    n = 5
    weights = [0.6 + 0.8 * rng.random() for _ in range(n)]
    layout = ["set a/", "set a/", "set-b/", "set-b/deep/", ""]
    for i, w in enumerate(weights):
        size = int(total * w / sum(weights))
        size = size - size % BIGFILES_BLOCK + rng.randrange(1, BIGFILES_BLOCK)
        _write(os.path.join(root, layout[i] + "part-%02d.bin" % i), pool, rng, size)
    _write(os.path.join(root, "set-b", "small.txt"), pool, rng,
           rng.randrange(1, 1 << 16))
    open(os.path.join(root, "set-b", "empty.dat"), "wb").close()
    return tree_stats(root)


def dataset(root, seed, index, kind="ascii", n_files=2000, n_dirs=64, n_empty_dirs=6):
    """One ingest dataset: `n_files` heavy-tailed files in a tree up to four
    directories deep with some empty directories. `kind` is "ascii",
    "unicode" (non-ASCII names) or "colon" (some names hold a ':')."""
    rng = _rng(seed, "dataset", index, kind)
    pool = rng.randbytes(4 * MIB)
    dirs = [("", 0)]
    children = {"": 0}
    for _ in range(n_dirs):
        parent, depth = rng.choice([d for d in dirs if d[1] < 4])
        name = _name(rng, kind, "")
        path = parent + name + "/"
        if path in children:
            continue
        os.makedirs(os.path.join(root, path))
        dirs.append((path, depth + 1))
        children[path] = 0
        children[parent] += 1
    leaves = [d for d, _ in dirs if d and children[d] == 0]
    empty = set(rng.sample(leaves, min(n_empty_dirs, len(leaves))))
    homes = [d for d, _ in dirs if d not in empty]
    sizes = _sizes(rng, n_files)
    colon_at = set(rng.sample(range(n_files), 3)) if kind == "colon" else set()
    for i, size in enumerate(sizes):
        d = rng.choice(homes)
        name = _name(rng, kind, rng.choice([".txt", ".bin", ".json", ""]))
        if i in colon_at:
            name = "a:" + name
        # a name taken by a file or a directory gets a prefix
        while os.path.lexists(os.path.join(root, d + name)):
            name = "x" + name
        _write(os.path.join(root, d + name), pool, rng, size)
    return tree_stats(root)


def tree_stats(root):
    """Bytes, files, entries and name-alphabet shares of a tree."""
    files = dirs = nbytes = 0
    shares = {"space": 0, "percent": 0, "non_ascii": 0, "colon": 0}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            shares["space"] += " " in name
            shares["percent"] += "%" in name
            shares["non_ascii"] += any(ord(ch) > 127 for ch in name)
            shares["colon"] += ":" in name
        dirs += len(dirnames)
        files += len(filenames)
        nbytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    entries = files + dirs
    return {
        "bytes": nbytes, "files": files, "entries": entries,
        "name_shares": {k: round(v / max(1, entries), 4) for k, v in shares.items()},
    }
