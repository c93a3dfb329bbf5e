"""Seeded synthetic Blockfrost provider and its expected-row oracle.

Serves ``/blocks/{h}`` and ``/blocks/{h}/txs``. Every payload is a
pure function of ``(seed, id)``: the same seed serves the same chain,
in any process and in any order. Payloads are consistent across
entities: a block's ``tx_count`` is the length of its tx list, and
each transaction hash starts with the 8-hex-digit height of the
block that lists it.

A deterministic one request in ``FLAKY_EVERY`` fails on its first
attempt, as a rate-limited provider would; the pipeline's retry
wrapper absorbs it, so no operation fails.

The module imports nothing from the package under test, so Spark's
Python workers can unpickle a :class:`Provider` with only this
directory on their path.
"""

from __future__ import annotations

import hashlib
import json

FLAKY_EVERY = 500

#: blocks per synthetic epoch; short so a window spans several epochs
EPOCH_BLOCKS = 100


def _int(seed: int, tag: str) -> int:
    digest = hashlib.blake2b(f"{seed}:{tag}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big")


def _hex(seed: int, tag: str, n: int = 64) -> str:
    out = ""
    i = 0
    while len(out) < n:
        out += hashlib.sha256(f"{seed}:{tag}:{i}".encode()).hexdigest()
        i += 1
    return out[:n]


class TransientProviderError(ConnectionError):
    """An injected first-attempt failure (an HTTP 429 stand-in)."""


class Provider:
    """Callable transport ``url -> bytes`` over a seeded chain.

    ``requests`` and ``retries`` are Spark accumulators; the transport
    runs inside Python workers, so counts travel back with task
    results."""

    def __init__(self, seed: int, requests, retries):
        self.seed = seed
        self.requests = requests
        self.retries = retries
        self._failed_once: set[str] = set()

    # -- chain content -------------------------------------------------

    def n_txs(self, height: int) -> int:
        return _int(self.seed, f"ntx{height}") % 5

    def tx_hashes(self, height: int) -> list[str]:
        return [
            f"{height:08x}" + _hex(self.seed, f"tx{height}:{i}")[8:]
            for i in range(self.n_txs(height))
        ]

    def epoch(self, height: int) -> int | None:
        if _int(self.seed, f"epochnull{height}") % 11 == 0:
            return None
        return 500 + height // EPOCH_BLOCKS

    def block(self, height: int) -> dict:
        r = _int(self.seed, f"block{height}")
        return {
            "time": 1_700_000_000 + height * 20,
            "height": height,
            "hash": _hex(self.seed, f"block{height}"),
            "slot": 140_000_000 + height * 20,
            "epoch": self.epoch(height),
            "epoch_slot": (height * 20) % 432_000,
            "slot_leader": f"pool1{_hex(self.seed, f'leader{r % 97}', 50)}",
            "size": 2000 + r % 60_000,
            "tx_count": self.n_txs(height),
            "output": str(3_000_000_000 + r % 10**12) if r % 5 else None,
            "fees": str(170_000 + r % 9999),
            "block_vrf": f"vrf_vk1{_hex(self.seed, f'vrf{height}', 50)}",
            "op_cert": _hex(self.seed, f"cert{height}"),
            "op_cert_counter": str(r % 30),
            "previous_block": _hex(self.seed, f"block{height - 1}"),
            "next_block": _hex(self.seed, f"block{height + 1}"),
            "confirmations": 1_000_000 - height % 1000,
        }

    # -- transport -----------------------------------------------------

    def __call__(self, url: str) -> bytes:
        self.requests.add(1)
        if _int(self.seed, f"flaky{url}") % FLAKY_EVERY == 0 and url not in self._failed_once:
            self._failed_once.add(url)
            self.retries.add(1)
            raise TransientProviderError(f"429 for {url}")
        parts = url.rstrip("/").split("/")
        if parts[-2] == "blocks":
            body: object = self.block(int(parts[-1]))
        elif parts[-1] == "txs" and parts[-3] == "blocks":
            body = self.tx_hashes(int(parts[-2]))
        else:
            raise ValueError(f"unroutable url: {url}")
        return json.dumps(body).encode()

    # -- oracle --------------------------------------------------------

    def expected_rows(self, start: int, end: int) -> dict[str, int]:
        """Rows each table holds once heights ``start..end`` are loaded."""
        n_blocks = end - start + 1
        return {"cardano_blocks": n_blocks, "cardano_block_transactions": n_blocks}

    def largest_blocks(self, start: int, end: int, k: int) -> list[tuple[int, int]]:
        """The ``k`` largest blocks as (height, size), ties by height."""
        rows = [(h, self.block(h)["size"]) for h in range(start, end + 1)]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]

    def txs_per_epoch(self, start: int, end: int) -> dict[int | None, int]:
        out: dict[int | None, int] = {}
        for height in range(start, end + 1):
            n = self.n_txs(height)
            if n:
                e = self.epoch(height)
                out[e] = out.get(e, 0) + n
        return out
