"""Independent restatement of the v1 directory-hash spec (SURVEY §1.3).

Uses only the standard library, so it shares no code with the Scala
engine it checks:

    chunk  = H(utf8(relPath) 0x00 ascii(idx) 0x00 content)
    final  = H(ascii(len(entries)) 0x00 join(entries, 0x00) 0x00
               chunk digests in (utf8(relPath), idx) order)

Entries are every file and directory below the root (directories end in
"/"), sorted by their UTF-8 bytes. Empty files list but add no chunk.
"""
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

BLOCK_SUFFIX = {"": 1, "k": 1024, "K": 1024, "M": 1 << 20, "G": 1 << 30}


def parse_block_size(s):
    digits = s.rstrip("kKMG")
    return int(digits) * BLOCK_SUFFIX[s[len(digits):]]


def _new(algo):
    return hashlib.new(algo.lower())


def listing(root):
    """(entries, files): relative names as str, files with their sizes."""
    entries, files = [], []
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        prefix = "" if rel == "." else rel + "/"
        for d in dirnames:
            entries.append(prefix + d + "/")
        for f in filenames:
            entries.append(prefix + f)
            files.append((prefix + f, os.path.getsize(os.path.join(dirpath, f))))
    return entries, files


def _utf8(s):
    return s.encode("utf-8", "surrogateescape")


def _file_digests(root, rel, size, algo, block_size):
    out = []
    with open(os.path.join(root, rel), "rb") as fh:
        for idx in range((size + block_size - 1) // block_size):
            c = _new(algo)
            c.update(_utf8(rel) + b"\0" + str(idx).encode() + b"\0")
            remaining = min(block_size, size - idx * block_size)
            while remaining:
                buf = fh.read(min(remaining, 1 << 20))
                if not buf:
                    raise IOError("unexpected EOF in " + rel)
                c.update(buf)
                remaining -= len(buf)
            out.append(c.digest())
    return out


def hash_raw(root, algo, block_size, workers=4):
    root = root.rstrip("/")
    entries, files = listing(root)
    files.sort(key=lambda f: _utf8(f[0]))
    h = _new(algo)
    h.update(str(len(entries)).encode())
    h.update(b"\0")
    h.update(b"\0".join(sorted(_utf8(e) for e in entries)))
    h.update(b"\0")
    # hashlib releases the GIL on large updates, so threads digest files
    # in parallel; the fold below keeps the spec's order
    with ThreadPoolExecutor(workers) as pool:
        per_file = pool.map(
            lambda f: _file_digests(root, f[0], f[1], algo, block_size), files)
        for digests in per_file:
            for d in digests:
                h.update(d)
    return h.hexdigest()


def hash_string(root, algo, block_size_str):
    hex_digest = hash_raw(root, algo, parse_block_size(block_size_str))
    return "-".join(["v1", algo.lower(), block_size_str, hex_digest])
