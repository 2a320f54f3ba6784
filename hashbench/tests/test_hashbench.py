"""Tests of the benchmark's own parts.

    python3 -m unittest discover -s hashbench/tests

Run from the repository root; the oracle-versus-DirHash test builds the
program on first use, like the benchmark.
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def scratch_dir():
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=run.WORK)


def manifest(root):
    """Digest of every name and every byte under `root`."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        h.update(os.path.relpath(d, root).encode("utf-8", "surrogateescape") + b"/\0")
        for f in sorted(files):
            h.update(f.encode("utf-8", "surrogateescape") + b"\0")
            with open(os.path.join(d, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def make(self, name, fn, **kw):
        path = os.path.join(self.dir, name)
        os.makedirs(path)
        stats = fn(path, **kw)
        return manifest(path), stats

    def test_same_seed_gives_identical_bytes(self):
        for kind in ("ascii", "unicode", "colon"):
            a = self.make("a-" + kind, gen.dataset, seed=7, index=3, kind=kind, n_files=150)
            b = self.make("b-" + kind, gen.dataset, seed=7, index=3, kind=kind, n_files=150)
            self.assertEqual(a, b, kind)
        a = self.make("big-a", gen.bigfiles, seed=7, total=8 << 20)
        b = self.make("big-b", gen.bigfiles, seed=7, total=8 << 20)
        self.assertEqual(a, b)

    def test_another_seed_gives_another_tree(self):
        a, _ = self.make("a", gen.dataset, seed=7, index=3, n_files=150)
        b, _ = self.make("b", gen.dataset, seed=8, index=3, n_files=150)
        self.assertNotEqual(a, b)

    def test_dataset_shape(self):
        _, stats = self.make("d", gen.dataset, seed=1, index=0)
        self.assertEqual(stats["files"], 2000)
        self.assertGreater(stats["entries"], stats["files"])
        self.assertGreater(stats["name_shares"]["space"], 0)
        self.assertEqual(stats["name_shares"]["non_ascii"], 0)
        _, stats = self.make("u", gen.dataset, seed=1, index=0, kind="unicode", n_files=100)
        self.assertGreater(stats["name_shares"]["non_ascii"], 0)


class OracleTest(unittest.TestCase):
    def test_empty_directory(self):
        d = scratch_dir()
        try:
            # count "0", then the two separators of an empty listing
            self.assertEqual(oracle.hash_raw(d, "sha256", 1024),
                             hashlib.sha256(b"0\0\0").hexdigest())
        finally:
            shutil.rmtree(d)

    def test_spec_by_hand(self):
        d = scratch_dir()
        try:
            os.makedirs(os.path.join(d, "dir", "sub"))
            with open(os.path.join(d, "dir", "abc.txt"), "wb") as f:
                f.write(b"abc")
            open(os.path.join(d, "empty"), "wb").close()

            def chunk(path, idx, content):
                return hashlib.sha256(path + b"\0" + str(idx).encode() + b"\0" + content).digest()
            want = hashlib.sha256(
                b"4\0" + b"\0".join([b"dir/", b"dir/abc.txt", b"dir/sub/", b"empty"]) + b"\0"
                + chunk(b"dir/abc.txt", 0, b"ab") + chunk(b"dir/abc.txt", 1, b"c")).hexdigest()
            self.assertEqual(oracle.hash_raw(d, "sha256", 2), want)
            self.assertEqual(oracle.hash_string(d + "/", "sha256", "2"), "v1-sha256-2-" + want)
        finally:
            shutil.rmtree(d)


class OracleAgreesWithDirHashTest(unittest.TestCase):
    def test_small_ascii_tree(self):
        classpath = run.build()
        d = scratch_dir()
        try:
            tree = os.path.join(d, "tree")
            os.makedirs(os.path.join(tree, "dir", "emptysub"))
            os.makedirs(os.path.join(tree, "dir", "sub 1"))
            files = {"a b.txt": b"hello world\n" * 40, "dir/empty.txt": b"",
                     "dir/sub 1/x%y.bin": bytes(range(256)) * 3, "dir/abc": b"abc"}
            for rel, content in files.items():
                with open(os.path.join(tree, rel), "wb") as f:
                    f.write(content)
            cases = [(a, b) for a in ("sha256", "sha3_512", "blake2b") for b in ("1", "32M")]
            plan = os.path.join(d, "plan.tsv")
            with open(plan, "w") as f:
                for algo, bs in cases:
                    f.write("\t".join(["op", "hash", tree, algo, bs, "-"]) + "\n")
            out = run.run_java(classpath, d, ["check", plan, "0", "0", d, os.devnull], 170)
            got = {(r["algo"], r["block_size"]): r["hash"] for r in out.get("CHECK", [])}
            self.assertEqual(sorted(got), sorted(cases))
            for algo, bs in cases:
                self.assertEqual(got[(algo, bs)], oracle.hash_string(tree, algo, bs), (algo, bs))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
