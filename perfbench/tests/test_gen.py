"""Tests of the perfbench input generator.

    python3 -m unittest discover -s perfbench/tests

The same seed must give byte-identical inputs, and the truth files the
benchmark checks against must agree with an independent re-derivation from
the generated wire lines and documents.
"""

import collections
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

# The engine's parser contract (IrcParser.MsgPattern / parse / rewriteAction).
MSG = re.compile(r"^:([^!]+)!~?([^@]+)@(\S+) PRIVMSG (\S+) :(.+)$")


def parse_line(line):
    line = line.strip()
    if not line or "PING :" in line:
        return None
    m = MSG.match(line)
    if not m or len(m.group(1)) >= gen.MAX_NICK_LEN:
        return None
    nick, channel, remark = m.group(1), m.group(4), m.group(5)
    if remark.startswith("ACTION "):
        remark = remark.replace("ACTION ", "/me ")
    return channel, nick, remark


def listing(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def trigrams(text):
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def gen(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{workload}-{seed}-{tag}")
        if not os.path.exists(d):
            gen.generate(workload, seed, d)
        return d

    def test_same_seed_gives_identical_files(self):
        for w in gen.SIZES:
            a, b = self.gen(w, 7, "a"), self.gen(w, 7, "b")
            la = listing(a)
            self.assertTrue(la, w)
            self.assertEqual(la, listing(b), w)
            c = self.gen(w, 8, "a")
            self.assertNotEqual(la, listing(c), f"{w}: another seed, same files")

    def test_ingest_truth_matches_wire_lines(self):
        d = self.gen("irc_ingest", 7, "a")
        size = gen.SIZES["irc_ingest"]
        hist = [l.rstrip("\n").split("\t") for l in open(os.path.join(d, "history.tsv"))]
        self.assertEqual(len(hist), size["history_days"] * size["history_per_day"])
        self.assertEqual(len({h[4] for h in hist}), len(hist), "history ids are distinct")
        for i, (ts, c, n, r, k, sl) in enumerate(hist):
            self.assertEqual(gen.key_v2(c, n, r), k)
            self.assertEqual(int(sl), i // gen.MICROBATCH_RECORDS, "slices of one micro-batch")
        truth = collections.defaultdict(set)
        for l in open(os.path.join(d, "wire_ids.tsv")):
            i, k = l.split()
            truth[int(i)].add(k)
        wire = sorted(os.listdir(os.path.join(d, "wire")))
        self.assertEqual(len(wire), size["files"])
        lines = valid = 0
        all_ids = set()
        for i, f in enumerate(wire):
            # whole lines, one recv chunk from each bot of the fleet
            self.assertLessEqual(os.path.getsize(os.path.join(d, "wire", f)), gen.FILE_BYTES)
            self.assertGreater(os.path.getsize(os.path.join(d, "wire", f)), gen.FILE_BYTES - 400)
            ids = set()
            for line in open(os.path.join(d, "wire", f)):
                lines += 1
                rec = parse_line(line)
                if rec:
                    valid += 1
                    ids.add(gen.key_v2(*rec))
            self.assertEqual(ids, truth[i], f)
            all_ids |= ids
        # a file yields about one micro-batch of distinct records
        per_file = sum(len(t) for t in truth.values()) / len(wire)
        self.assertAlmostEqual(per_file / gen.MICROBATCH_RECORDS, 1.0, delta=0.1)
        # Roughly 8 % noise and 25 % cross-bot copies, so distinct ids
        # are well below the valid lines.
        self.assertAlmostEqual(1 - valid / lines, 0.08, delta=0.02)
        self.assertLess(len(all_ids), 0.8 * valid)
        self.assertTrue(all_ids & {h[4] for h in hist}, "some lines re-post history")

    def test_planted_pairs_are_near_duplicates(self):
        d = self.gen("doc_dedup", 7, "a")
        docs = {}
        for f in os.listdir(os.path.join(d, "docs")):
            for l in open(os.path.join(d, "docs", f)):
                i, t = l.rstrip("\n").split("\t")
                docs[int(i)] = t
        size = gen.SIZES["doc_dedup"]
        self.assertEqual(len(docs), size["batches"] * size["per_batch"])
        planted = [tuple(map(int, l.split())) for l in open(os.path.join(d, "planted.tsv"))]
        self.assertGreater(len(planted), size["batches"] * size["per_batch"] * 0.05)
        self.assertEqual(len(planted), len(set(planted)))
        within = sum(1 for a, b in planted if a // 1_000_000 == b // 1_000_000)
        self.assertTrue(0 < within < len(planted), "families within and across batches")
        for a, b in planted:
            self.assertLess(a, b)
            ta, tb = trigrams(docs[a]), trigrams(docs[b])
            self.assertGreaterEqual(len(ta & tb) / len(ta | tb), 0.85, (a, b))

    def test_requests_follow_the_cycle(self):
        d = self.gen("log_search", 7, "a")
        reqs = [json.loads(l) for l in open(os.path.join(d, "requests.jsonl"))]
        self.assertEqual(len(reqs), gen.SIZES["log_search"]["requests"])
        for i, q in enumerate(reqs):
            self.assertEqual(q["type"], gen.REQUEST_CYCLE[i % len(gen.REQUEST_CYCLE)])


if __name__ == "__main__":
    unittest.main()
