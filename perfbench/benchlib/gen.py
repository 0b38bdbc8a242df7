"""Seeded input generator: the chain, the table batches, the price series,
the query request stream and the document files.

Everything derives from one integer seed through ``random.Random``; the
same seed gives byte-identical files. The generator also keeps the
in-memory model the reference answers are computed from (``refs.py``),
so no expected value ever comes from the engine under test.
"""
import json
import math
import os
import random
import time

# topic0 of the events the chain carries. Transfer/Approval/Deposit/
# Withdraw are the reference views' hashes (EventViews.referenceViews);
# SWAP is keccak256("Swap(address,uint256,uint256,uint256,uint256,address)"),
# the Uniswap-V2 pair event the query mix builds with
# EventViews.fromSignature (the engine re-derives it and refuses to run
# if the two disagree).
TRANSFER = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
APPROVAL = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
DEPOSIT = "0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7"
WITHDRAW = "0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db"
SWAP = "0xd78ad95fa46c994b6551d0da85fc275fe613ce37657fb8d5e3d130840159d822"

# share of logs per event kind; the rest carry an unknown topic0
KINDS = [(TRANSFER, 0.70), (APPROVAL, 0.09), (SWAP, 0.08), (DEPOSIT, 0.04),
         (WITHDRAW, 0.03), (None, 0.06)]

GENESIS_TS = 1_700_000_000  # epoch seconds of the chain's first block
BLOCK_SECONDS = 12


def _h(rng, bits=256):
    return "0x%0*x" % (bits // 4, rng.getrandbits(bits))


def _word(v):
    return "%064x" % v


def _topic_addr(addr):
    return "0x" + "0" * 24 + addr[2:]


class Chain:
    """A seeded chain: blocks of logs in ``eth_getLogs`` wire shape.

    ``logs`` holds one dict per log with the wire fields plus the
    decoded facts the reference answers need (``kind``, ``args``).
    Contracts follow a Zipf law, logs per block are skewed and some
    blocks are empty.
    """

    def __init__(self, seed, first_block, n_blocks, mean_logs=8.0,
                 n_tokens=120, n_pools=16, n_users=1500, empty_share=0.15):
        rng = random.Random(("chain", seed).__repr__())
        self.first_block = first_block
        self.n_blocks = n_blocks
        self.tokens = ["0x%040x" % rng.getrandbits(160) for _ in range(n_tokens)]
        self.pools = ["0x%040x" % rng.getrandbits(160) for _ in range(n_pools)]
        self.vaults = ["0x%040x" % rng.getrandbits(160) for _ in range(6)]
        self.others = ["0x%040x" % rng.getrandbits(160) for _ in range(20)]
        users = ["0x%040x" % rng.getrandbits(160) for _ in range(n_users)]
        token_w = _zipf_cum(n_tokens, 1.1)
        user_w = _zipf_cum(n_users, 0.8)
        pool_w = _zipf_cum(n_pools, 1.0)
        kind_cum, acc = [], 0.0
        for _, share in KINDS:
            acc += share
            kind_cum.append(acc)
        kinds = [k for k, _ in KINDS]
        self.blocks = {}
        self.logs = []
        # skewed logs/block: lognormal around the mean, a share empty
        mu = _lognorm_mu(mean_logs / (1.0 - empty_share), 0.9)
        for b in range(first_block, first_block + n_blocks):
            bh = _h(rng)
            if rng.random() < empty_share:
                n = 0
            else:
                n = max(1, int(rng.lognormvariate(mu, 0.9)))
            block_logs = []
            tx_index = -1
            left_in_tx = 0
            tx = None
            for li in range(n):
                if left_in_tx == 0:
                    tx_index += 1
                    tx = _h(rng)
                    left_in_tx = rng.choice((1, 1, 1, 2, 2, 3, 4))
                left_in_tx -= 1
                kind = rng.choices(kinds, cum_weights=kind_cum)[0]
                log = _make_log(rng, kind, self, users, user_w, token_w, pool_w)
                log.update(blockHash=bh, blockNumber=b, transactionHash=tx,
                           transactionIndex=tx_index, logIndex=li, removed=False)
                block_logs.append(log)
            self.blocks[b] = block_logs
            self.logs.extend(block_logs)

    @property
    def last_block(self):
        return self.first_block + self.n_blocks - 1

    def timestamp(self, b):
        return GENESIS_TS + BLOCK_SECONDS * (b - self.first_block)


def _zipf_cum(n, s):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


def _lognorm_mu(mean, sigma):
    return math.log(mean) - sigma * sigma / 2


def _make_log(rng, kind, chain, users, user_w, token_w, pool_w):
    def user():
        return rng.choices(users, cum_weights=user_w)[0]
    if kind == TRANSFER or kind == APPROVAL:
        addr = rng.choices(chain.tokens, cum_weights=token_w)[0]
        a, b = user(), user()
        amount = rng.getrandbits(rng.randint(20, 70))
        return dict(address=addr, kind=kind, topics=[kind, _topic_addr(a), _topic_addr(b)],
                    data="0x" + _word(amount), args=(a, b, amount))
    if kind == SWAP:
        addr = rng.choices(chain.pools, cum_weights=pool_w)[0]
        sender, to = user(), user()
        x, y = rng.getrandbits(40), rng.getrandbits(40)
        # one side in, the other out
        amts = (x, 0, 0, y) if rng.random() < 0.5 else (0, y, x, 0)
        return dict(address=addr, kind=kind, topics=[kind, _topic_addr(sender), _topic_addr(to)],
                    data="0x" + "".join(_word(v) for v in amts), args=(sender, to) + amts)
    if kind == DEPOSIT:
        addr = rng.choice(chain.vaults)
        caller, owner = user(), user()
        assets, shares = rng.getrandbits(60), rng.getrandbits(60)
        return dict(address=addr, kind=kind, topics=[kind, _topic_addr(caller), _topic_addr(owner)],
                    data="0x" + _word(assets) + _word(shares), args=(caller, owner, assets, shares))
    if kind == WITHDRAW:
        addr = rng.choice(chain.vaults)
        caller, receiver, owner = user(), user(), user()
        assets, shares = rng.getrandbits(60), rng.getrandbits(60)
        return dict(address=addr, kind=kind,
                    topics=[kind, _topic_addr(caller), _topic_addr(receiver), _topic_addr(owner)],
                    data="0x" + _word(assets) + _word(shares),
                    args=(caller, receiver, owner, assets, shares))
    addr = rng.choice(chain.others)
    topics = [_h(rng)] + [_h(rng) for _ in range(rng.randint(0, 2))]
    return dict(address=addr, kind=None, topics=topics, data="0x" + _word(rng.getrandbits(64)),
                args=())


def wire(log, removed=None):
    """One log as the ``eth_getLogs`` result element, in compact JSON."""
    return json.dumps({
        "address": log["address"], "topics": log["topics"], "data": log["data"],
        "blockHash": log["blockHash"], "blockNumber": "0x%x" % log["blockNumber"],
        "transactionHash": log["transactionHash"],
        "transactionIndex": "0x%x" % log["transactionIndex"],
        "logIndex": "0x%x" % log["logIndex"],
        "removed": log["removed"] if removed is None else removed,
    }, separators=(",", ":"))


# ---------------------------------------------------------------- evm_query

class QueryInputs:
    """The evm_query table: window-sized NDJSON batches, one same-PK
    tombstone batch, block timestamps and the price series.

    The chain straddles a ``Logs.blocksPerPartition`` boundary so the
    stored table has two block ranges: the tombstone batch (written with
    ``canonicalize = true``) rewrites the first range into one file,
    while the second keeps the one-file-per-batch layout a stream
    leaves.
    """
    N_BLOCKS = 4800
    WINDOW = 800
    TOMBSTONE_SHARE = 0.03
    PRICE_EVERY = 40

    def __init__(self, seed):
        first = 18_000_000 - self.N_BLOCKS // 2
        self.chain = Chain(seed, first, self.N_BLOCKS)
        rng = random.Random(("tomb", seed).__repr__())
        half = [l for l in self.chain.logs if l["blockNumber"] < 18_000_000]
        self.tombstoned = set()
        for log in half:
            if rng.random() < self.TOMBSTONE_SHARE:
                self.tombstoned.add(_pk(log))
        rng = random.Random(("price", seed).__repr__())
        self.prices = []  # (pool, block, price_e8)
        for pool in self.chain.pools:
            p = rng.randint(50_000_000, 500_000_000_000)
            for b in range(self.chain.first_block, self.chain.last_block + 1, self.PRICE_EVERY):
                p = max(1, int(p * (1.0 + rng.gauss(0.0, 0.01))))
                self.prices.append((pool, b, p))

    def batch_ranges(self):
        c = self.chain
        return [(lo, min(lo + self.WINDOW - 1, c.last_block))
                for lo in range(c.first_block, c.last_block + 1, self.WINDOW)]

    def write(self, out_dir):
        """Write the batch files; returns the ordered load plan."""
        os.makedirs(out_dir, exist_ok=True)
        plan = []
        ranges = self.batch_ranges()
        tomb_at = len(ranges) // 2  # after the first batch past the range boundary
        for i, (lo, hi) in enumerate(ranges):
            path = os.path.join(out_dir, "logs_%03d.ndjson" % i)
            with open(path, "w") as f:
                for b in range(lo, hi + 1):
                    for log in self.chain.blocks[b]:
                        f.write(wire(log))
                        f.write("\n")
            plan.append({"path": path, "canonicalize": False})
            if i == tomb_at:
                path = os.path.join(out_dir, "tombstones.ndjson")
                with open(path, "w") as f:
                    for log in self.chain.logs:
                        if _pk(log) in self.tombstoned:
                            f.write(wire(log, removed=True))
                            f.write("\n")
                plan.append({"path": path, "canonicalize": True})
        path = os.path.join(out_dir, "blocks.ndjson")
        with open(path, "w") as f:
            for b in range(self.chain.first_block, self.chain.last_block + 1):
                f.write('{"block_number":%d,"ts":%d}\n' % (b, self.chain.timestamp(b)))
        blocks_path = path
        path = os.path.join(out_dir, "price.ndjson")
        with open(path, "w") as f:
            for pool, b, p in self.prices:
                f.write('{"token":"%s","blockNumber":"0x%x","result":"0x%s"}\n'
                        % (pool, b, _word(p)))
        return {"batches": plan, "blocks": blocks_path, "prices": [path]}


def _pk(log):
    return (log["blockHash"], log["transactionHash"], log["logIndex"])


# The request classes, in the order the client cycles through them.
# Every class gets an equal share: no query log or public measurement of
# indexer request shares backs any other split, so gains are claimed per
# class (``<class>_p50_s``), and equal shares give every class the same
# number of samples.
QUERY_CLASSES = ("transfer_rollup", "token_window", "tx_lookup", "swap_usd_hourly",
                 "canonical_read")
WARMUP_CYCLES = 6


def query_requests(seed, chain, n, first_id=0):
    """The closed-loop request stream: classes in a fixed cycle, fresh
    seeded parameters per request. The client walks it in order until
    its time is up. The order is the same for every seed, so a run that
    stops mid-cycle sees the same class mix whatever the seed."""
    rng = random.Random(("requests", seed, first_id).__repr__())
    token_w = _zipf_cum(len(chain.tokens), 1.1)
    txs = sorted({l["transactionHash"] for l in chain.logs})
    lo, hi = chain.first_block, chain.last_block
    span = hi - lo + 1
    out = []
    for i in range(n):
        c = QUERY_CLASSES[i % len(QUERY_CLASSES)]
        r = {"id": first_id + i, "cls": c}
        if c == "token_window":
            r["token"] = rng.choices(chain.tokens, cum_weights=token_w)[0]
            a = rng.randint(lo, hi - span // 4)
            r["from"], r["to"] = a, a + span // 4
        elif c == "tx_lookup":
            r["tx"] = rng.choice(txs)
        elif c == "swap_usd_hourly":
            a = rng.randint(lo, hi - span // 2)
            r["from"], r["to"] = a, a + span // 2
        elif c == "canonical_read":
            a = rng.randint(lo, hi - span // 3)
            r["from"], r["to"] = a, a + span // 3
        out.append(r)
    return out


def warmup_requests(seed, chain):
    """Requests run before timing starts: query planning and execution
    paths are still being JIT-compiled for the first couple of dozen
    requests (latencies fall by a third over them)."""
    return query_requests(seed, chain, WARMUP_CYCLES * len(QUERY_CLASSES), first_id=1_000_000)


# ---------------------------------------------------------------- evm_ingest

class IngestInputs:
    """The chain the mock node serves: a fixed backlog for the backfill
    phase, then follow blocks released on the node's schedule."""
    FIRST = 1
    BACKLOG = 6000
    WARMUP = 1100  # set-up pass into a scratch table: two triggers, the second appending
    FOLLOW = 600  # upper bound; the follow phase stops releasing earlier

    def __init__(self, seed):
        self.chain = Chain(seed, self.FIRST, self.BACKLOG + self.FOLLOW, mean_logs=12.0)

    @property
    def backlog_head(self):
        return self.FIRST + self.BACKLOG - 1


# ---------------------------------------------------------------- curate_drain

WORDS = None


def _vocab():
    global WORDS
    if WORDS is None:
        rng = random.Random("vocab")
        letters = "abcdefghijklmnopqrstuvwxyz"
        seen = set()
        while len(seen) < 6000:
            seen.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
        WORDS = sorted(seen)
    return WORDS


STOP = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with", "as", "on"]


class DrainInputs:
    """Documents for one drain: JSON-lines files with stated shares of
    planted near-copies, junk that fails the quality gate and distinct
    documents. A near-copy always has a higher id than its original and
    arrives in the same or a later file, so the expected corpus is
    exactly the distinct documents."""
    COPY_SHARE = 0.20
    JUNK_SHARE = 0.15

    def __init__(self, seed, n_files, docs_per_file, drain=0):
        rng = random.Random(("docs", seed, drain).__repr__())
        vocab = _vocab()
        self.files = []
        self.kept = []
        originals = []
        next_id = drain * 10_000_000 + 1
        for _ in range(n_files):
            docs = []
            for _ in range(docs_per_file):
                u = rng.random()
                if u < self.COPY_SHARE and originals:
                    # near-copy of a recent original: one word swapped
                    words = list(rng.choice(originals[-200:]))
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                    text = " ".join(words)
                elif u < self.COPY_SHARE + self.JUNK_SHARE:
                    # digits and [.,!?;:] runs, few tokens: quality ~0.1 < 0.2
                    text = " ".join("%d%s" % (rng.randint(0, 99999), rng.choice(".,!?;:") * 2)
                                    for _ in range(rng.randint(3, 12)))
                else:
                    words = []
                    for _ in range(rng.randint(60, 90)):
                        words.append(rng.choice(STOP) if rng.random() < 0.35 else rng.choice(vocab))
                    originals.append(words)
                    text = " ".join(words)
                    self.kept.append(next_id)
                docs.append({"doc_id": next_id, "text": text, "lang": "en",
                             "source": "bench", "n_chars": len(text)})
                next_id += 1
            self.files.append(docs)
        self.n_docs = n_files * docs_per_file

    def write(self, in_dir):
        """Write the files with strictly increasing modification times:
        the file source admits files in mtime order, and the expected
        corpus assumes they arrive in id order."""
        os.makedirs(in_dir, exist_ok=True)
        base = int(time.time()) - len(self.files) - 10
        for i, docs in enumerate(self.files):
            # write-then-rename so the file source never sees a partial file
            tmp = os.path.join(in_dir, ".part_%05d.json" % i)
            with open(tmp, "w") as f:
                for d in docs:
                    f.write(json.dumps(d, separators=(",", ":")))
                    f.write("\n")
            path = os.path.join(in_dir, "docs_%05d.json" % i)
            os.rename(tmp, path)
            os.utime(path, (base + i, base + i))
