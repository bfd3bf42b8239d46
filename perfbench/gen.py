"""Seeded input generator for the perfbench workloads.

Kept apart from the engine: it writes plain text files (raw IRC wire lines,
tab-separated record and document files, JSON request lists and truth
files) and the engine only ever reads those files. The same seed gives
byte-identical files.

Traffic dimensions (see README.md for the sizes each workload uses):
  * channels: 155 (the size of the reference channel list), Zipf-skewed;
  * nicks: a pool drawn Zipf-skewed per message;
  * duplicate share: cross-bot copies of a recent line (same wire bytes);
  * noise share: PING, non-PRIVMSG traffic and over-long nicks;
  * ACTION emotes, which the parser rewrites to "/me ...";
  * history / corpus days: records spread uniformly over whole days;
  * documents with planted near-duplicate families, within one batch and
    across batches.
"""

import hashlib
import json
import os
import random

N_CHANNELS = 155
N_NICKS = 1200
VOCAB_SIZE = 3000
MAX_NICK_LEN = 17  # the parser drops nicks of this length or longer
HISTORY_EPOCH = 1709251200  # 2024-03-01T00:00:00Z, day 0 of every history
DAY = 86400
# One micro-batch of the benchmark is one staged wire file. The reference
# bot reads its socket in 2048-byte recv chunks (irclogbot.py:112) and runs
# as a fleet of four bots (runbots.py:16); a staged file holds one chunk's
# worth of whole lines from each bot.
RECV_BYTES = 2048
FLEET_BOTS = 4
FILE_BYTES = RECV_BYTES * FLEET_BOTS
# Distinct records one such file yields (about 76 lines, less the noise and
# the copies of lines seen within the file; tests/test_gen.py checks it). History and corpus are
# written in slices of this many records, one slice per micro-batch.
MICROBATCH_RECORDS = 64
# Cross-bot copies repeat one of this many recent lines.
RECENT_LINES = 200

# Words the query_string grammar treats as operators never enter the vocabulary.
_RESERVED = {"and", "or", "not", "to"}


class Zipf:
    """Draws indices 0..n-1 with P(i) proportional to 1/(i+1)^s."""

    def __init__(self, n, s):
        acc, self.cdf = 0.0, []
        for i in range(n):
            acc += 1.0 / (i + 1) ** s
            self.cdf.append(acc)
        self.idx = range(n)

    def draw(self, rng):
        return rng.choices(self.idx, cum_weights=self.cdf)[0]

    def draws(self, rng, k):
        return rng.choices(self.idx, cum_weights=self.cdf, k=k)


class Universe:
    """Channel names, nicks and vocabulary, derived from the seed."""

    def __init__(self, seed):
        rng = random.Random(f"universe-{seed}")
        syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "do",
                "sa", "ki", "mu", "ra", "te", "bo", "li", "fa", "gu", "he"]

        def word(lo, hi):
            return "".join(rng.choice(syll) for _ in range(rng.randint(lo, hi)))

        vocab, seen = [], set(_RESERVED)
        while len(vocab) < VOCAB_SIZE:
            w = word(1, 4)
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        self.vocab = vocab
        chans, seen = [], set()
        while len(chans) < N_CHANNELS:
            c = "#" + word(2, 4)
            if c not in seen:
                seen.add(c)
                chans.append(c)
        self.channels = chans
        nicks, seen = [], set()
        while len(nicks) < N_NICKS:
            n = word(2, 5) + str(rng.randint(0, 99))
            if n not in seen and len(n) < MAX_NICK_LEN:
                seen.add(n)
                nicks.append(n)
        self.nicks = nicks
        self.chan_z = Zipf(N_CHANNELS, 1.1)
        self.nick_z = Zipf(N_NICKS, 1.0)
        self.word_z = Zipf(VOCAB_SIZE, 1.05)

    def channel(self, rng):
        return self.channels[self.chan_z.draw(rng)]

    def nick(self, rng):
        return self.nicks[self.nick_z.draw(rng)]

    def words(self, rng, lo, hi):
        return [self.vocab[i] for i in self.word_z.draws(rng, rng.randint(lo, hi))]


def key_v2(channel, nick, remark):
    """The engine's v2 content id: md5 over the '|'-joined fields."""
    return hashlib.md5(f"{channel}|{nick}|{remark}".encode()).hexdigest()


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def gen_history(u, rng, days, per_day):
    """Distinct (channel, nick, remark) records spread over `days` days,
    returned in time order as (ts, channel, nick, remark, id, slice): each
    run of MICROBATCH_RECORDS consecutive records is one slice, the records
    one micro-batch of a running bot would have carried."""
    recs, seen = [], set()
    for d in range(days):
        for _ in range(per_day):
            while True:
                c, n = u.channel(rng), u.nick(rng)
                r = " ".join(u.words(rng, 3, 14))
                k = key_v2(c, n, r)
                if k not in seen:
                    seen.add(k)
                    break
            recs.append((HISTORY_EPOCH + d * DAY + rng.randrange(DAY), c, n, r, k))
    recs.sort()
    return [rec + (i // MICROBATCH_RECORDS,) for i, rec in enumerate(recs)]


def write_history(path, recs):
    _write(path, "".join("\t".join(map(str, rec)) + "\n" for rec in recs))


def _host(rng):
    return f"{rng.randrange(256)}.{rng.randrange(256)}.example.net"


def gen_wire_files(u, rng, history, n_files, file_bytes,
                   dup_share=0.25, noise_share=0.08, action_share=0.03,
                   history_repost_share=0.03):
    """Raw wire traffic packed into files of whole lines of at most
    `file_bytes` bytes each, plus the distinct ids of the valid PRIVMSG
    lines each file carries."""
    recent = []

    def next_line():
        x = rng.random()
        if x < noise_share:
            return _noise_line(u, rng), None
        x -= noise_share
        if recent and x < dup_share:
            return recent[rng.randrange(len(recent))]
        if x < dup_share + history_repost_share:
            _, c, n, r, _, _ = history[rng.randrange(len(history))]
            remark, shown = r, r
        else:
            c, n = u.channel(rng), u.nick(rng)
            remark = " ".join(u.words(rng, 2, 14))
            shown = remark
            if rng.random() < action_share:
                shown = "ACTION " + remark
                remark = "/me " + remark
        item = (f":{n}!~{n[:6]}@{_host(rng)} PRIVMSG {c} :{shown}", key_v2(c, n, remark))
        recent.append(item)
        if len(recent) > RECENT_LINES:
            recent.pop(0)
        return item

    files, ids_per_file = [], []
    lines, ids, size = [], set(), 0
    item = next_line()
    while len(files) < n_files:
        n = len(item[0].encode()) + 1
        if lines and size + n > file_bytes:
            files.append(lines)
            ids_per_file.append(sorted(ids))
            lines, ids, size = [], set(), 0
            continue
        lines.append(item[0])
        if item[1]:
            ids.add(item[1])
        size += n
        item = next_line()
    return files, ids_per_file


def _noise_line(u, rng):
    kind = rng.randrange(4)
    if kind == 0:
        return "PING :irc.example.net"
    if kind == 1:
        n = u.nick(rng)
        return f":{n}!~{n[:6]}@{_host(rng)} JOIN {u.channel(rng)}"
    if kind == 2:
        return f":irc.example.net NOTICE * :*** {' '.join(u.words(rng, 2, 6))}"
    long_nick = (u.nick(rng) * 4)[:MAX_NICK_LEN + rng.randrange(6)]
    return (f":{long_nick}!~x@{_host(rng)} PRIVMSG {u.channel(rng)} "
            f":{' '.join(u.words(rng, 2, 8))}")


# Three query_string slots put the median request inside the cluster of
# mid-cost types (search_after, nick filter, query_string), so the p50 of a
# run does not hop between two types' latencies.
REQUEST_CYCLE = ["filter_channel_range", "query_string", "facets",
                 "fulltext_channel", "filter_nick", "query_string",
                 "search_after", "filter_channel_range", "query_string",
                 "fulltext_channel", "search_after", "fulltext_corpus"]


def gen_requests(u, rng, history, days, n_requests):
    """A fixed request mix: types follow REQUEST_CYCLE so any prefix has the
    same composition; parameters are seeded draws from the corpus."""
    reqs, n_qs = [], 0
    for i in range(n_requests):
        t = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        _, c, n, r, _, _ = history[rng.randrange(len(history))]
        words = r.split(" ")
        start = HISTORY_EPOCH + rng.randrange(days) * DAY + rng.randrange(DAY // 2)
        if t == "filter_channel_range":
            q = {"channel": c, "from": start, "until": start + DAY}
        elif t == "filter_nick":
            q = {"nick": n}
        elif t == "query_string":
            # keyword + negation, phrase + negation, keyword field + term;
            # the structured fields drive the bench's reference filter
            shape, n_qs = n_qs % 3, n_qs + 1
            if shape == 0:
                neg = u.vocab[rng.randrange(20)]
                q = {"q": f"{words[0]} -{neg}", "all": [words[0]], "none": [neg]}
            elif shape == 1 and len(words) >= 3:
                q = {"q": f"\"{words[0]} {words[1]}\" -{words[2]}",
                     "phrase": words[:2], "none": [words[2]]}
            else:
                q = {"q": f"nick:{n} AND {words[-1]}", "all": [words[-1]], "nick": n}
        elif t in ("fulltext_channel", "fulltext_corpus"):
            terms = [words[0], u.vocab[200 + rng.randrange(800)]]
            q = {"terms": terms, "k": 10}
            if t == "fulltext_channel":
                q["channel"] = c
        elif t == "facets":
            q = {"from": start, "until": start + DAY + rng.randrange(DAY)}
        else:  # search_after: a chain of pages through one channel
            q = {"channel": c, "pages": 3, "size": 20}
        q["type"] = t
        reqs.append(q)
    return reqs


def gen_docs(u, rng, n_batches, per_batch, family_share=0.1):
    """Document batches with planted near-duplicate families. A family is a
    base document and one or two variants, each one word substituted,
    appended or dropped (word-trigram Jaccard about 0.9). Variants land in
    the base's batch or up to three batches later. Returns
    (batches, planted) where planted lists (base_id, variant_id)."""
    pending = [[] for _ in range(n_batches)]
    batches, planted = [], []
    for b in range(n_batches):
        docs = []
        for i in range(per_batch):
            did = b * 1_000_000 + i
            if pending[b] and rng.random() < 0.5:
                base_id, base_words = pending[b].pop()
                w = _variant(u, rng, base_words)
                planted.append((base_id, did))
            else:
                w = u.words(rng, 60, 100)
                if rng.random() < family_share:
                    for _ in range(rng.randint(1, 2)):
                        tgt = min(n_batches - 1, b + rng.randrange(4))
                        pending[tgt].append((did, w))
            docs.append((did, " ".join(w)))
        batches.append(docs)
    return batches, sorted(planted)


def _variant(u, rng, words):
    w = list(words)
    op = rng.randrange(3)
    pos = rng.randrange(len(w))
    if op == 0:
        w[pos] = u.vocab[rng.randrange(VOCAB_SIZE)]
    elif op == 1:
        w.append(u.vocab[rng.randrange(VOCAB_SIZE)])
    else:
        del w[pos]
    return w


# Workload sizes. The sizing rationale is in README.md.
SIZES = {
    "irc_ingest": {"history_days": 2, "history_per_day": 600, "files": 24},
    "log_search": {"history_days": 2, "history_per_day": 400, "requests": 600},
    "doc_dedup": {"batches": 16, "per_batch": 600},
}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under directory `out`."""
    os.makedirs(out, exist_ok=True)
    u = Universe(seed)
    rng = random.Random(f"{workload}-{seed}")
    size = SIZES[workload]
    if workload in ("irc_ingest", "log_search"):
        hist = gen_history(u, rng, size["history_days"], size["history_per_day"])
        write_history(os.path.join(out, "history.tsv"), hist)
    if workload == "irc_ingest":
        files, ids = gen_wire_files(u, rng, hist, size["files"], FILE_BYTES)
        os.makedirs(os.path.join(out, "wire"), exist_ok=True)
        for i, lines in enumerate(files):
            _write(os.path.join(out, "wire", f"part-{i:05d}.txt"), "\n".join(lines) + "\n")
        _write(os.path.join(out, "wire_ids.tsv"),
               "".join(f"{i}\t{k}\n" for i, ks in enumerate(ids) for k in ks))
    elif workload == "log_search":
        reqs = gen_requests(u, rng, hist, size["history_days"], size["requests"])
        _write(os.path.join(out, "requests.jsonl"),
               "".join(json.dumps(q, sort_keys=True) + "\n" for q in reqs))
    elif workload == "doc_dedup":
        batches, planted = gen_docs(u, rng, size["batches"], size["per_batch"])
        os.makedirs(os.path.join(out, "docs"), exist_ok=True)
        for b, docs in enumerate(batches):
            _write(os.path.join(out, "docs", f"batch-{b:05d}.tsv"),
                   "".join(f"{d}\t{t}\n" for d, t in docs))
        _write(os.path.join(out, "planted.tsv"),
               "".join(f"{a}\t{b}\n" for a, b in planted))
    else:
        raise ValueError(f"unknown workload {workload}")
