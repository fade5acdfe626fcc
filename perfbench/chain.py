"""Seeded Solana-shaped chain generator and the spec of the rule chain.

``Chain(seed, mean_tx)`` yields deterministic ``getBlock`` JsonParsed
bodies per slot: a seeded ~5% of slots are skipped (the node answers
``null``), block sizes are drawn around ``mean_tx`` transactions, signers
are Zipf-skewed and the transaction mix covers every program type of the
registry: multi-instruction swaps, ``transferChecked``, ``{"pubkey": ...}``
account keys, unknown programs and failed transactions.

``expected_rows`` is the generator's own statement of what the program
must produce for a block: it classifies each transaction with an
independent re-statement of the reference's priority rule chain
(DEX > NFT > Token > single System > System present > unknown), so the
benchmark can check the program's output without trusting it.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random

# The engine's registry as published by the reference's migrations
# (program id, name, type); kept here so the spec does not read it from
# the program under test.
REGISTRY = {
    "11111111111111111111111111111111": ("System Program", "System"),
    "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA": ("Token Program", "Token"),
    "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb": ("Token-2022 Program", "Token"),
    "ATokenGPvbdGVxr1b2hvZbsiqW5xWH25efTNsLJA8knL": ("Associated Token Account", "Token"),
    "metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s": ("Metaplex Token Metadata", "NFT"),
    "cndy3Z4yapfJBmL3ShUp5exZKqR3z33thTzeNMm2gRZ": ("Candy Machine", "NFT"),
    "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8": ("Raydium AMM", "DEX"),
    "JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4": ("Jupiter Aggregator", "DEX"),
    "whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc": ("Orca Whirlpool", "DEX"),
    "ComputeBudget111111111111111111111111111111": ("Compute Budget", "System"),
    "KLend2g3cP87fffoy8q1mQqGKjrxjC8boSyAYavgmjD": ("Kamino Lending", "DeFi"),
    "dRiftyHA39MWEi3m9aunc5MzRF1JYuBsbn6VPcn33UH": ("Drift Protocol", "DeFi"),
}
SYSTEM = "11111111111111111111111111111111"
TOKEN = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
TOKEN22 = "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"
ATA = "ATokenGPvbdGVxr1b2hvZbsiqW5xWH25efTNsLJA8knL"
METAPLEX = "metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s"
CANDY = "cndy3Z4yapfJBmL3ShUp5exZKqR3z33thTzeNMm2gRZ"
DEXES = (
    "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8",
    "JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4",
    "whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc",
)
COMPUTE = "ComputeBudget111111111111111111111111111111"
DEFI = (
    "KLend2g3cP87fffoy8q1mQqGKjrxjC8boSyAYavgmjD",
    "dRiftyHA39MWEi3m9aunc5MzRF1JYuBsbn6VPcn33UH",
)
USDC = "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v"

TX_TYPES = (
    "dex_swap",
    "nft_mint",
    "spl_token_transfer",
    "sol_transfer",
    "program_interaction",
    "unknown",
)

# (template, weight): the share of each transaction shape in a block.
_MIX = (
    ("sol_transfer", 28),
    ("token_transfer", 16),
    ("token_transfer_checked", 8),
    ("dex_swap", 18),
    ("nft_mint", 5),
    ("defi_with_budget", 8),
    ("defi_alone", 3),
    ("unknown_program", 6),
    ("system_other", 5),
    ("token22_ata", 3),
)
_MIX_NAMES = [m for m, _ in _MIX]
_MIX_CUM = []
_acc = 0
for _, _w in _MIX:
    _acc += _w
    _MIX_CUM.append(_acc)

SKIP_SHARE = 0.05
FAIL_SHARE = 0.06
PUBKEY_OBJECT_SHARE = 0.3
N_SIGNERS = 4000
ZIPF_S = 1.1
FINALITY_LAG = 20
FIRST_BLOCK_TIME = 1_700_000_000
_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _b58(tag: str, n: int) -> str:
    """A deterministic base58-looking string of length ``n``."""
    out = []
    digest = b""
    i = 0
    while len(out) < n:
        digest = hashlib.blake2b(f"{tag}:{i}".encode(), digest_size=32).digest()
        out.extend(_ALPHABET[b % 58] for b in digest)
        i += 1
    return "".join(out[:n])


def _rand58(rng: random.Random, n: int) -> str:
    return "".join(rng.choices(_ALPHABET, k=n))


def zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (k**s) for k in range(1, n + 1)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    cdf[-1] = 1.0
    return cdf


def zipf_draw(rng: random.Random, cdf: list[float]) -> int:
    """0-based Zipf rank."""
    return bisect.bisect_left(cdf, rng.random())


class Chain:
    """Deterministic chain for one seed. Slot ``s``'s block depends only
    on ``(seed, s, mean_tx)``."""

    def __init__(self, seed: int, mean_tx: int = 1200):
        self.seed = seed
        self.mean_tx = mean_tx
        self.signers = [_b58(f"signer:{seed}:{k}", 44) for k in range(N_SIGNERS)]
        self._cdf = zipf_cdf(N_SIGNERS, ZIPF_S)
        self._mints = [USDC] + [_b58(f"mint:{seed}:{k}", 44) for k in range(7)]
        self._programs = [_b58(f"prog:{seed}:{k}", 43) for k in range(50)]

    def _rng(self, slot: int) -> random.Random:
        return random.Random(f"{self.seed}:{slot}:{self.mean_tx}")

    def is_skipped(self, slot: int) -> bool:
        return random.Random(f"skip:{self.seed}:{slot}").random() < SKIP_SHARE

    def block(self, slot: int) -> dict | None:
        """The ``getBlock`` result for ``slot``; None for a skipped slot."""
        if self.is_skipped(slot):
            return None
        rng = self._rng(slot)
        lo, hi = self.mean_tx // 2, self.mean_tx * 3 // 2
        n = min(hi, max(lo, int(rng.gauss(self.mean_tx, self.mean_tx * 0.15))))
        txs = [self._tx(rng, slot, i) for i in range(n)]
        return {
            "blockhash": _b58(f"bh:{self.seed}:{slot}", 44),
            "previousBlockhash": _b58(f"bh:{self.seed}:{slot - 1}", 44),
            "parentSlot": slot - 1,
            "blockTime": FIRST_BLOCK_TIME + slot * 2 // 5,
            "blockHeight": slot - slot // 20,
            "transactions": txs,
        }

    def block_json(self, slot: int) -> bytes:
        """The full JSON-RPC response body for ``getBlock(slot)``."""
        return json.dumps(
            {"jsonrpc": "2.0", "id": 1, "result": self.block(slot)},
            separators=(",", ":"),
        ).encode()

    def _tx(self, rng: random.Random, slot: int, index: int) -> dict:
        signer = self.signers[zipf_draw(rng, self._cdf)]
        kind = _MIX_NAMES[bisect.bisect_right(_MIX_CUM, rng.random() * _MIX_CUM[-1])]
        other = self.signers[rng.randrange(N_SIGNERS)]
        acct = _rand58(rng, 44)
        keys = [signer, other, acct]
        instrs = []
        if kind == "sol_transfer":
            keys.append(SYSTEM)
            instrs.append(_system_transfer(signer, other, rng.randrange(1, 10**9)))
        elif kind in ("token_transfer", "token_transfer_checked"):
            keys += [COMPUTE, TOKEN]
            instrs.append(_by_index(keys, COMPUTE, rng))
            mint = self._mints[rng.randrange(len(self._mints))]
            amount = rng.randrange(1, 10**12)
            instrs.append(
                _token_transfer(acct, other, signer, mint, amount,
                                checked=kind == "token_transfer_checked")
            )
        elif kind == "dex_swap":
            dex = DEXES[rng.randrange(len(DEXES))]
            keys += [COMPUTE, dex, TOKEN]
            instrs.append(_by_index(keys, COMPUTE, rng))
            instrs.append(_by_index(keys, dex, rng))
            for _ in range(rng.randrange(1, 3)):
                instrs.append(
                    _token_transfer(acct, other, signer, USDC,
                                    rng.randrange(1, 10**9), checked=False)
                )
        elif kind == "nft_mint":
            nft = METAPLEX if rng.random() < 0.6 else CANDY
            keys += [nft, TOKEN]
            instrs.append(_by_index(keys, nft, rng))
            instrs.append(_parsed(TOKEN, "spl-token", "mintTo",
                                  {"mint": acct, "account": other, "amount": "1"}))
        elif kind == "defi_with_budget":
            keys += [COMPUTE, DEFI[rng.randrange(2)]]
            instrs.append(_by_index(keys, COMPUTE, rng))
            instrs.append(_by_index(keys, keys[-1], rng))
        elif kind == "defi_alone":
            keys.append(DEFI[rng.randrange(2)])
            instrs.append(_by_index(keys, keys[-1], rng))
        elif kind == "unknown_program":
            prog = self._programs[rng.randrange(len(self._programs))]
            keys.append(prog)
            for _ in range(rng.randrange(1, 3)):
                instrs.append({"programId": prog, "accounts": [acct], "data": "3Bxs4"})
        elif kind == "system_other":
            prog = self._programs[rng.randrange(len(self._programs))]
            keys += [SYSTEM, prog]
            instrs.append(_parsed(SYSTEM, "system", "advanceNonce",
                                  {"nonceAccount": acct}))
            instrs.append({"programId": prog, "accounts": [acct], "data": "9Vfr"})
        else:  # token22_ata
            keys += [ATA, TOKEN22]
            instrs.append(_by_index(keys, ATA, rng))
            instrs.append(_parsed(TOKEN22, None, "transferChecked", {
                "source": acct, "destination": other, "authority": signer,
                "mint": self._mints[1],
                "tokenAmount": {"amount": str(rng.randrange(1, 10**6)), "decimals": 6},
            }))
        if rng.random() < PUBKEY_OBJECT_SHARE:
            account_keys = [
                {"pubkey": k, "signer": j == 0, "writable": j < 3, "source": "transaction"}
                for j, k in enumerate(keys)
            ]
        else:
            account_keys = keys
        failed = rng.random() < FAIL_SHARE
        return {
            "signatures": [_rand58(rng, 88)],
            "message": {
                "accountKeys": account_keys,
                "recentBlockhash": _b58(f"bh:{self.seed}:{slot - 1}", 44),
                "instructions": instrs,
            },
            "meta": {
                "err": {"InstructionError": [0, {"Custom": 1}]} if failed else None,
                "fee": 5000 + 1000 * rng.randrange(0, 20),
            },
        }


def _system_transfer(src: str, dst: str, lamports: int) -> dict:
    return _parsed(SYSTEM, "system", "transfer",
                   {"source": src, "destination": dst, "lamports": lamports})


def _token_transfer(src, dst, authority, mint, amount, checked: bool) -> dict:
    if checked:
        info = {"source": src, "destination": dst, "authority": authority,
                "mint": mint,
                "tokenAmount": {"amount": str(amount), "decimals": 6}}
        return _parsed(TOKEN, "spl-token", "transferChecked", info)
    info = {"source": src, "destination": dst, "authority": authority,
            "amount": str(amount)}
    if mint != USDC:
        info["mint"] = mint
    return _parsed(TOKEN, "spl-token", "transfer", info)


def _parsed(program_id: str, program: str | None, typ: str, info: dict) -> dict:
    ins = {"parsed": {"type": typ, "info": info}, "programId": program_id}
    if program:
        ins["program"] = program
    return ins


def _by_index(keys: list, program_id: str, rng: random.Random) -> dict:
    return {"programIdIndex": keys.index(program_id), "accounts": [keys[0]],
            "data": _rand58(rng, 12)}


# --- the spec --------------------------------------------------------


def _pubkey(k) -> str:
    return k["pubkey"] if isinstance(k, dict) else k


def spec_program_ids(tx: dict) -> list[str]:
    keys = [_pubkey(k) for k in tx["message"]["accountKeys"]]
    out: list[str] = []
    for ins in tx["message"]["instructions"]:
        pid = ins.get("programId") or ins.get("program")
        if pid is None and ins.get("programIdIndex") is not None:
            idx = ins["programIdIndex"]
            pid = keys[idx] if 0 <= idx < len(keys) else None
        if pid is not None and pid not in out:
            out.append(pid)
    return out


def spec_type(program_ids: list[str]) -> str:
    types = [REGISTRY[p][1] if p in REGISTRY else None for p in program_ids]
    if "DEX" in types:
        return "dex_swap"
    if "NFT" in types:
        return "nft_mint"
    if "Token" in types:
        return "spl_token_transfer"
    if len(program_ids) == 1 and types[0] == "System":
        return "sol_transfer"
    if "System" in types:
        return "program_interaction"
    return "unknown"


def expected_rows(slot: int, block: dict) -> list[dict]:
    """One dict per transaction the program must load for ``block``."""
    rows = []
    for i, tx in enumerate(block["transactions"]):
        pids = spec_program_ids(tx)
        rows.append({
            "signature": tx["signatures"][0],
            "block_slot": slot,
            "transaction_index": i,
            "success": tx["meta"]["err"] is None,
            "fee": tx["meta"]["fee"],
            "transaction_type": spec_type(pids),
            "signer": _pubkey(tx["message"]["accountKeys"][0]),
            "num_instructions": len(tx["message"]["instructions"]),
        })
    return rows


class Spec:
    """Running totals the program's stats report and tables must equal."""

    def __init__(self):
        self.blocks = 0
        self.txs = 0
        self.successful = 0
        self.fees = 0
        self.by_type: dict[str, int] = {}

    def add_block(self, slot: int, block: dict | None) -> None:
        if block is None:
            return
        self.blocks += 1
        for r in expected_rows(slot, block):
            self.txs += 1
            self.successful += r["success"]
            self.fees += r["fee"]
            t = r["transaction_type"]
            self.by_type[t] = self.by_type.get(t, 0) + 1

    def merge(self, other: "Spec") -> "Spec":
        self.blocks += other.blocks
        self.txs += other.txs
        self.successful += other.successful
        self.fees += other.fees
        for t, n in other.by_type.items():
            self.by_type[t] = self.by_type.get(t, 0) + n
        return self

    def report(self) -> dict:
        """The stats report ``cli.run`` must return for these blocks."""
        failed = self.txs - self.successful
        rate = round(self.successful * 100.0 / self.txs, 2) if self.txs else 0.0
        return {
            "blocks_loaded": self.blocks,
            "transactions_loaded": self.txs,
            "total_transactions": self.txs,
            "successful_transactions": self.successful,
            "failed_transactions": failed,
            "total_fees": self.fees,
            "success_rate": rate,
        }
