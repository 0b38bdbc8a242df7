"""Reference answers, computed from the generator's own model without the
engine: the evm_query request results and the expected final table
and corpus states. Decoding follows the ABI word layout directly
(``uint256`` words as ints, ``address`` topics as their last 20 bytes).
"""
import bisect
from collections import defaultdict

from . import gen


def _low128(word_hex):
    # the engine's uint256 view decode keeps the word's low 128 bits
    return int(word_hex[32:64], 16)


def decoded_args(log):
    """The decoded fields of a log, in view-field order, as strings."""
    t, d = log["topics"], log["data"][2:]
    words = [_low128(d[i:i + 64]) for i in range(0, len(d), 64)]
    addr = lambda x: "0x" + x[26:]  # noqa: E731
    k = log["kind"]
    if k in (gen.TRANSFER, gen.APPROVAL):
        return [addr(t[1]), addr(t[2]), str(words[0])]
    if k == gen.SWAP:
        return [addr(t[1])] + [str(w) for w in words[:4]] + [addr(t[2])]
    if k == gen.DEPOSIT:
        return [addr(t[1]), addr(t[2]), str(words[0]), str(words[1])]
    if k == gen.WITHDRAW:
        return [addr(t[1]), addr(t[2]), addr(t[3]), str(words[0]), str(words[1])]
    return None


EVENT_NAME = {gen.TRANSFER: "Transfer", gen.APPROVAL: "Approval", gen.SWAP: "Swap",
              gen.DEPOSIT: "Deposit", gen.WITHDRAW: "Withdraw"}


class QueryRefs:
    """Expected rows for each evm_query request, as sorted lists of
    string tuples (the order a client sees is checked only where the
    query orders its output)."""

    def __init__(self, inputs):
        self.inputs = inputs
        chain = inputs.chain
        self.transfers = defaultdict(list)  # token -> [(block, from, to, amount)]
        self.by_tx = defaultdict(list)
        self.swaps = []  # (block, pool, a0in, a0out)
        for l in chain.logs:
            self.by_tx[l["transactionHash"]].append(l)
            if l["kind"] == gen.TRANSFER:
                a, b, amt = l["args"]
                self.transfers[l["address"]].append((l["blockNumber"], a, b, amt))
            elif l["kind"] == gen.SWAP:
                _, _, a0in, _, a0out, _ = l["args"]
                self.swaps.append((l["blockNumber"], l["address"], a0in, a0out))
        self.prices = defaultdict(lambda: ([], []))
        for pool, b, p in inputs.prices:
            bs, ps = self.prices[pool]
            bs.append(b)
            ps.append(p)
        self._rollup = None

    def expected(self, r):
        return getattr(self, r["cls"])(r)

    def transfer_rollup(self, r):
        if self._rollup is None:
            out = []
            for token, ts in self.transfers.items():
                out.append((token, str(len(ts)), str(sum(t[3] for t in ts))))
            self._rollup = sorted(out)
        return self._rollup

    def token_window(self, r):
        net = defaultdict(int)
        for b, a, c, amt in self.transfers.get(r["token"], []):
            if r["from"] <= b <= r["to"]:
                net[c] += amt
                net[a] -= amt
        top = sorted(net.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        return [(a, str(v)) for a, v in top]

    def tx_lookup(self, r):
        out = []
        for l in self.by_tx.get(r["tx"], []):
            args = decoded_args(l)
            if args is not None:
                out.append((str(l["logIndex"]), EVENT_NAME[l["kind"]], "|".join(args)))
        return sorted(out)

    def swap_usd_hourly(self, r):
        chain = self.inputs.chain
        hours = defaultdict(lambda: [0, 0])
        for b, pool, a0in, a0out in self.swaps:
            if r["from"] <= b <= r["to"]:
                bs, ps = self.prices[pool]
                i = bisect.bisect_right(bs, b) - 1
                h = chain.timestamp(b) // 3600 * 3600
                hours[h][0] += 1
                hours[h][1] += (a0in + a0out) * ps[i]
        return sorted((str(h), str(n), str(v)) for h, (n, v) in hours.items())

    def canonical_read(self, r):
        tomb = self.inputs.tombstoned
        n = sb = sl = 0
        for l in self.inputs.chain.logs:
            if r["from"] <= l["blockNumber"] <= r["to"] and gen._pk(l) not in tomb:
                n += 1
                sb += l["blockNumber"]
                sl += l["logIndex"]
        return [(str(n), str(sb) if n else None, str(sl) if n else None)]


def normalize(cls, rows):
    """Engine rows in the shape ``QueryRefs`` answers in."""
    rows = [tuple(r) for r in rows]
    return rows if cls == "token_window" else sorted(rows)  # token_window orders itself

