"""Deterministic synthetic chain generator (FIXTURES.md shapes).

Mirrors the reference's recorded-chain test backbone
(modules/node-pool/src/test/resources/blocks/*.gz replayed by
StreamSchedulerSpec.scala:30-57) with synthetic blocks that preserve the
structural invariants the ingest logic depends on:

  1. chain linkage: parentId(h) == id(h-1); height-1 parent is the
     all-zero genesis id (Const.scala:17);
  2. UTXO discipline: every input spends an output of a strictly earlier
     block, at most once globally (MvStorage.scala:132-147);
  3. coinbase last (FullBlockBuilder.scala:86-88): spends the previous
     emission box, re-creates it, pays the miner, and collects the block
     fee into the designated fee contract (RewardCalculator.scala:45-49);
  4. token mints: asset.tokenId == inputs[0].boxId with EIP-4 R4/R5/R6
     (OutputBuilder.scala:21-26, TokenPropsParser.scala:14-19);
  5. skew: one exchange tree collects >supernode-threshold outputs and
     one hot token appears in many boxes (SuperNodeCounter.scala:19);
  6. tree variety: ~90% P2PK (no T8), ~10% contract trees with an
     extractable template, a few malformed (ErgoTreeParser.scala:87-90);
  7. registers: real sigma wire form — absent / Coll[Byte] / SInt /
     SLong / Option[SInt] / Coll[Coll[Byte]] / (SInt,SInt) / SigmaProp /
     undecodable; EIP-4 mints carry 0e+VLQ-prefixed Coll[Byte] props
     with base-10 ASCII decimals.

Fork variants share a prefix and diverge for the last K heights
(shorter K=2, longer K=4 and one block taller), matching the
forks_shorter/forks_longer replay fixtures.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import random

from ..constants import (  # noqa: F401 - re-exported for fixture users
    EMISSION_TREE,
    EXCHANGE_PK,
    FEE_TREE,
    GENESIS_BOXES,
    GENESIS_EMISSION_BOX,
    GENESIS_ID,
    NANO,
)


def _hex(tag: str, n: int = 32) -> str:
    return hashlib.sha256(tag.encode()).hexdigest()[: n * 2]


def p2pk_tree(pk: str) -> str:
    """P2PK ErgoTree: header 0008cd + 33-byte compressed point hex."""
    return "0008cd" + pk


def sigma_vlq(n: int) -> str:
    """Unsigned VLQ (7-bit little-endian groups), hex-encoded — sigma's
    length/int wire format."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    return out.hex()


def sigma_coll_byte(data: bytes) -> str:
    """Sigma-serialized Coll[Byte] constant: type code 0e + VLQ length +
    payload — the actual register wire form (RegistersParser.parseAny
    deserializes this; raw unprefixed payloads are NOT valid registers)."""
    return "0e" + sigma_vlq(len(data)) + data.hex()


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def sigma_int(v: int) -> str:
    """Sigma-serialized SInt constant: type code 04 + zigzag VLQ."""
    return "04" + sigma_vlq(_zz(v))


def sigma_long(v: int) -> str:
    return "05" + sigma_vlq(_zz(v))


def sigma_option_int(v: int | None) -> str:
    """Option[SInt]: code 40 (=36+4) + presence byte + zigzag VLQ."""
    return "28" + ("00" if v is None else "01" + sigma_vlq(_zz(v)))


def sigma_coll_coll_byte(items: list[bytes]) -> str:
    """Coll[Coll[Byte]]: code 26 (=24+2) + count + length-prefixed
    blobs (inner colls carry no repeated type code)."""
    return (
        "1a"
        + sigma_vlq(len(items))
        + "".join(sigma_vlq(len(x)) + x.hex() for x in items)
    )


def sigma_pair_int(a: int, b: int) -> str:
    """Symmetric pair (SInt, SInt): code 88 (=84+4) + two zigzag VLQs."""
    return "58" + sigma_vlq(_zz(a)) + sigma_vlq(_zz(b))


def sigma_sigmaprop(pk33_hex: str) -> str:
    """SSigmaProp constant: code 08 + ProveDlog opcode cd + 33-byte pk."""
    return "08cd" + pk33_hex


def sigma_group_element(point33_hex: str) -> str:
    """SGroupElement constant: code 07 + 33-byte compressed point."""
    return "07" + point33_hex


def sigma_pair_int_collbyte(a: int, data: bytes) -> str:
    """Asymmetric pair (SInt, Coll[SByte]): Pair1 code 40 (=60+4 → hex
    0x40), second component's type serialized after (0e), then the two
    data payloads concatenated."""
    return "400e" + sigma_vlq(_zz(a)) + sigma_vlq(len(data)) + data.hex()


def sigma_pair_collbyte_int(data: bytes, b: int) -> str:
    """Asymmetric pair (Coll[SByte], SInt): Pair2 code 4c (=72+4), first
    component's type serialized after (0e)."""
    return "4c0e" + sigma_vlq(len(data)) + data.hex() + sigma_vlq(_zz(b))


def sigma_tuple_n(ints: list[int]) -> str:
    """General n-tuple of SInt (n > 2): TupleTypeCode 60 (=96) + u8
    arity + item type codes + concatenated data."""
    assert len(ints) > 2
    return (
        "60"
        + f"{len(ints):02x}"
        + "04" * len(ints)
        + "".join(sigma_vlq(_zz(v)) for v in ints)
    )


def sigma_coll_bool(bits: list[bool]) -> str:
    """Coll[SBoolean]: code 0d (=12+1) + VLQ count + bit-packed bytes
    (LSB first — sigmastate DataSerializer's getBits layout)."""
    nbytes = (len(bits) + 7) // 8
    packed = bytearray(nbytes)
    for j, bit in enumerate(bits):
        if bit:
            packed[j >> 3] |= 1 << (j & 7)
    return "0d" + sigma_vlq(len(bits)) + packed.hex()


def sigma_coll_int(ints: list[int]) -> str:
    """Coll[SInt]: code 10 (=12+4) + VLQ count + zigzag VLQs."""
    return "10" + sigma_vlq(len(ints)) + "".join(sigma_vlq(_zz(v)) for v in ints)


def contract_tree(seed: str, n_consts: int = 2) -> str:
    """Contract tree in the REAL serialized layout (sigmastate
    ErgoTreeSerializer): header 0x19 (v1 + size + constant segregation),
    VLQ tree size, VLQ constant count, sigma-serialized SInt constants,
    then the template body — `_tree_t8` extracts the body by actually
    walking the constants, not by a fixed-width guess."""
    consts = "".join(
        sigma_int(int(_hex(f"const-{seed}-{i}", 4), 16)) for i in range(n_consts)
    )
    body = _hex(f"body-{seed}", 16)
    payload = sigma_vlq(n_consts) + consts + body
    return "19" + sigma_vlq(len(payload) // 2) + payload


class ChainGen:
    """Deterministic chain builder; `variant` seeds forked branches."""

    def __init__(
        self,
        seed: int = 42,
        value_base: int = 10**15,
        n_addresses: int = 190,
        tx_range: tuple[int, int] = (1, 4),
        fast_pool: bool = False,
    ):
        # `value_base` is the emission box's starting value. The default
        # mirrors mainnet-magnitude nanoERG amounts; long chains (≥ ~10k
        # blocks) should pass a smaller base so CUMULATIVE volume sums
        # stay inside int64 (Σ 10^15 overflows a long at ~9.2k blocks).
        # `n_addresses` / `tx_range` size the fixture toward a target
        # end-state (the reference's published anchor is 1,886,283 utxos
        # over 159,562 addresses — readme.md:180); `fast_pool` swaps the
        # spent-box draw to O(1) swap-pop (a different but equally valid
        # random stream — REQUIRED for multi-million-box pools, where
        # list.pop(i)'s memmove is quadratic; defaults keep the frozen
        # seed-42 stream the cached bench/e2e fixtures pin).
        self.rng = random.Random(seed)
        self.value_base = value_base
        self.tx_range = tx_range
        self.fast_pool = fast_pool
        self.unspent: list[tuple[str, int]] = []  # (boxId, value) pool
        self.minted_tokens: list[str] = []
        self.hot_token = _hex("hot-token")
        self.blocks: list[dict] = []
        self.emission_box = GENESIS_EMISSION_BOX
        # address pool with a long tail + the exchange supernode
        self.pks = [_hex(f"pk-{i}", 33) for i in range(n_addresses)]

    def _draw_unspent(self) -> tuple[str, int]:
        i = self.rng.randrange(len(self.unspent))
        if self.fast_pool:
            self.unspent[i], self.unspent[-1] = (
                self.unspent[-1],
                self.unspent[i],
            )
            return self.unspent.pop()
        return self.unspent.pop(i)

    # -- tree selection (FIXTURES §1 invariant 6) ---------------------------
    def _pick_tree(self) -> str:
        from ..functions.crypto import p2sh_tree

        r = self.rng.random()
        if r < 0.30:
            return p2pk_tree(EXCHANGE_PK)  # skew: exchange hot address
        if r < 0.86:
            return p2pk_tree("02" + self.rng.choice(self.pks)[:64])
        if r < 0.94:
            return contract_tree(f"c{self.rng.randrange(20)}")
        if r < 0.98:  # canonical P2SH script (IsPay2SHAddress branch)
            return p2sh_tree(_hex(f"script-{self.rng.randrange(8)}", 24))
        return "zz-malformed-" + _hex("bad", 4)  # fallback-address path

    def _registers(self, mint_props: dict | None = None) -> dict:
        """Registers in their real sigma-serialized wire form (EIP-4
        mints carry Coll[Byte] name/description and the base-10 decimals
        STRING — TokenPropsParser.scala:14-19 parses the rendered value,
        not a binary int)."""
        regs = {}
        if mint_props:
            regs["R4"] = sigma_coll_byte(mint_props["name"].encode())
            regs["R5"] = sigma_coll_byte(mint_props["desc"].encode())
            regs["R6"] = sigma_coll_byte(str(mint_props["decimals"]).encode())
        else:
            r = self.rng.random()
            if r < 0.20:
                regs["R4"] = "0e20" + _hex(f"r4-{self.rng.random()}")  # Coll[Byte]
            elif r < 0.28:
                regs["R5"] = sigma_int(self.rng.randrange(-500, 500))
            elif r < 0.32:
                regs["R6"] = sigma_long(self.rng.randrange(10**12))
            elif r < 0.35:
                regs["R7"] = sigma_option_int(
                    None if self.rng.random() < 0.3 else self.rng.randrange(99)
                )
            elif r < 0.38:
                regs["R8"] = sigma_coll_coll_byte(
                    [b"ab", bytes.fromhex(_hex("nested", 4))]
                )
            elif r < 0.41:
                regs["R9"] = sigma_pair_int(
                    self.rng.randrange(99), self.rng.randrange(99)
                )
            elif r < 0.43:
                regs["R5"] = sigma_sigmaprop("02" + self.rng.choice(self.pks)[:64])
            elif r < 0.45:
                regs["R7"] = "xx" + _hex("undecodable", 3)  # undecodable blob
        return regs

    def _assets(
        self, tx_first_input: str, mint: bool, n_reuse: int
    ) -> tuple[list, dict | None]:
        """Re-circulated tokens are drawn from the first `n_reuse`
        minted tokens, the ones minted before the current tx: a token id
        IS its mint tx's first-input box id, and that box is consumed by
        the mint itself — so re-circulation can never re-satisfy the
        mint predicate (OutputBuilder.scala:21-26). Drawing from the live
        pool would fabricate impossible double-mints. A count, not a
        copy of the list: a copy per tx would make long chains
        superlinear to build."""
        assets, props = [], None
        if mint:
            props = {
                "name": f"TOK{len(self.minted_tokens)}",
                "desc": "synthetic eip4 token",
                "decimals": self.rng.randrange(0, 9),
            }
            assets.append(
                {"tokenId": tx_first_input, "amount": self.rng.randrange(1, 10**6)}
            )
            self.minted_tokens.append(tx_first_input)
        if self.rng.random() < 0.35:
            assets.append(
                {"tokenId": self.hot_token, "amount": self.rng.randrange(1, 1000)}
            )
        if n_reuse and self.rng.random() < 0.2:
            assets.append(
                {
                    # randrange(n) consumes the random stream as
                    # choice() over n items does; the cached fixtures
                    # depend on it (test_chaingen_stream_is_frozen)
                    "tokenId": self.minted_tokens[self.rng.randrange(n_reuse)],
                    "amount": self.rng.randrange(1, 500),
                }
            )
        return assets, props

    def _tx(self, height: int, txi: int, variant: str) -> dict:
        tx_id = _hex(f"tx-{variant}-{height}-{txi}")
        n_inputs = min(len(self.unspent), self.rng.randrange(1, 3))
        inputs = []
        in_value = 0
        for _ in range(n_inputs):
            box_id, val = self._draw_unspent()
            in_value += val
            inputs.append(
                {
                    "boxId": box_id,
                    "spendingProof": {
                        "proofBytes": _hex(f"proof-{tx_id}", 8),
                        "extension": "{}",
                    },
                }
            )
        data_inputs = []
        if self.unspent and self.rng.random() < 0.15:
            data_inputs.append({"boxId": self.unspent[0][0]})

        n_outputs = self.rng.randrange(1, 5)
        mint = self.rng.random() < 0.05
        fee = in_value // 100  # 1% fee, collected by coinbase
        spendable = in_value - fee
        outputs = []
        exchange_tree = p2pk_tree(EXCHANGE_PK)
        n_reuse = len(self.minted_tokens)  # pre-tx count
        for oi in range(n_outputs):
            box_id = _hex(f"box-{variant}-{height}-{txi}-{oi}")
            value = spendable // n_outputs
            assets, props = self._assets(
                inputs[0]["boxId"], mint and oi == 0, n_reuse
            )
            tree = self._pick_tree()
            outputs.append(
                {
                    "boxId": box_id,
                    "value": value,
                    "creationHeight": height,
                    "ergoTree": tree,
                    "assets": assets,
                    "additionalRegisters": self._registers(props),
                }
            )
            # exchange deposits accumulate (cold wallet): never re-spent,
            # which both guarantees the supernode skew (FIXTURES §1.5) and
            # mirrors real hot-address behavior
            if tree != exchange_tree:
                self.unspent.append((box_id, value))
        return {
            "id": tx_id,
            "inputs": inputs,
            "dataInputs": data_inputs,
            "outputs": outputs,
            "size": 300 + self.rng.randrange(700),
        }, fee

    def _coinbase(self, height: int, fees: int, miner_pk: str, variant: str) -> dict:
        """Last tx: spends prev emission box, re-creates it, pays miner
        reward + fee output (RewardCalculator semantics)."""
        tx_id = _hex(f"coinbase-{variant}-{height}")
        reward = 75 * NANO  # emission(h) in the fixture height range
        new_emission = _hex(f"emission-{variant}-{height}")
        outs = [
            {
                "boxId": new_emission,
                # emission depletes with height; floor at one reward so
                # long chains never mint negative-value boxes
                "value": max(self.value_base - reward * height, reward),
                "creationHeight": height,
                "ergoTree": EMISSION_TREE,
                "assets": [],
                "additionalRegisters": {},
            },
            {
                "boxId": _hex(f"reward-{variant}-{height}"),
                "value": reward,
                "creationHeight": height,
                "ergoTree": p2pk_tree(miner_pk),
                "assets": [],
                "additionalRegisters": {},
            },
            {
                "boxId": _hex(f"fee-{variant}-{height}"),
                "value": fees,
                "creationHeight": height,
                "ergoTree": FEE_TREE,
                "assets": [],
                "additionalRegisters": {},
            },
        ]
        # miner reward box is spendable later; emission/fee boxes are not
        # re-spent by the generator (keeps fee aggregation stable)
        self.unspent.append((outs[1]["boxId"], reward))
        prev_emission, self.emission_box = self.emission_box, new_emission
        return {
            "id": tx_id,
            "inputs": [
                {
                    "boxId": prev_emission,
                    "spendingProof": {"proofBytes": None, "extension": "{}"},
                }
            ],
            "dataInputs": [],
            "outputs": outs,
            "size": 250,
        }

    def block(self, height: int, parent_id: str, variant: str = "main") -> dict:
        miner_pk = "02" + self.rng.choice(self.pks)[:64]
        n_txs = self.rng.randrange(*self.tx_range) if self.unspent else 0
        txs, fees = [], 0
        for txi in range(n_txs):
            if not self.unspent:
                break
            tx, fee = self._tx(height, txi, variant)
            txs.append(tx)
            fees += fee
        txs.append(self._coinbase(height, fees, miner_pk, variant))
        block_id = _hex(f"block-{variant}-{height}")
        ts = 1_600_000_000_000 + height * 120_000 + self.rng.randrange(60_000)
        return {
            "header": {
                "id": block_id,
                "parentId": parent_id,
                "version": 1,
                "height": height,
                "nBits": 117_849_332,
                "difficulty": str(10**12 + height),
                "timestamp": ts,
                "stateRoot": _hex(f"state-{variant}-{height}", 33),
                "adProofsRoot": _hex(f"adproof-{variant}-{height}"),
                "transactionsRoot": _hex(f"txroot-{variant}-{height}"),
                "extensionHash": _hex(f"ext-{variant}-{height}"),
                "minerPk": miner_pk,
                "w": _hex(f"w-{height}", 33),
                "n": _hex(f"n-{height}", 8),
                "d": str(10**20 + height),
                "votes": "000000",
            },
            "transactions": txs,
            "extension": {
                "headerId": block_id,
                "digest": _hex(f"digest-{height}"),
                "fields": "[]",
            },
            "adProofs": None,
            "size": sum(t["size"] for t in txs) + 280,
        }

    def generate(self, n_blocks: int) -> list[dict]:
        parent = GENESIS_ID
        for h in range(1, n_blocks + 1):
            b = self.block(h, parent)
            self.blocks.append(b)
            parent = b["header"]["id"]
        return self.blocks

    def fork(self, diverge_at: int, extra_heights: int, variant: str) -> list[dict]:
        """Alternative branch: shares prefix below `diverge_at`, different
        blocks from there up to tip+extra_heights. Returns prefix+branch."""
        prefix = [b for b in self.blocks if b["header"]["height"] < diverge_at]
        parent = prefix[-1]["header"]["id"] if prefix else GENESIS_ID
        # branch generator must not double-spend main-chain boxes created at
        # >= diverge_at: rebuild pool state by replay
        sub = ChainGen(seed=999)
        sub.blocks = list(prefix)
        sub.unspent = [
            (o["boxId"], o["value"])
            for b in prefix
            for t in b["transactions"]
            for o in t["outputs"]
            if o["ergoTree"] not in (EMISSION_TREE, FEE_TREE, p2pk_tree(EXCHANGE_PK))
        ]
        spent = {
            i["boxId"] for b in prefix for t in b["transactions"] for i in t["inputs"]
        }
        sub.unspent = [(bid, v) for bid, v in sub.unspent if bid not in spent]
        sub.emission_box = (
            prefix[-1]["transactions"][-1]["outputs"][0]["boxId"]
            if prefix
            else GENESIS_EMISSION_BOX
        )
        sub.minted_tokens = list(self.minted_tokens)
        tip = max(b["header"]["height"] for b in self.blocks)
        branch = []
        for h in range(diverge_at, tip + extra_heights + 1):
            b = sub.block(h, parent, variant=variant)
            branch.append(b)
            parent = b["header"]["id"]
        return prefix + branch


def write_jsonl_gz(blocks: list[dict], path: str) -> str:
    with gzip.open(path, "wt") as f:
        for b in blocks:
            f.write(json.dumps(b, separators=(",", ":")) + "\n")
    return path


def write_jsonl_gz_sharded(
    blocks: list[dict], dir_path: str, shards: int = 32
) -> str:
    """Write the dump as `shards` gzip JSONL part files under `dir_path`.

    gzip is an unsplittable codec: a single-file dump pins the scan AND
    the Jackson decode — the dominant ingest cost — onto ONE task no
    matter how many cores the cluster has. Real dumps at scale arrive
    sharded anyway (one file per fetch worker / height range), so the
    fixture mirrors that: contiguous height ranges per part file, and
    ingestion stays order-independent (chain resolution sorts by
    height/parent, never by file order)."""
    import os

    os.makedirs(dir_path, exist_ok=True)
    if not blocks:
        # one empty part file, so a schema-supplied read of the dump dir
        # yields empty tables instead of a path/inference error
        write_jsonl_gz([], os.path.join(dir_path, "part-00000.jsonl.gz"))
        return dir_path
    n = max(1, min(shards, len(blocks)))
    per = (len(blocks) + n - 1) // n
    for s in range(n):
        chunk = blocks[s * per : (s + 1) * per]
        if not chunk:
            break
        write_jsonl_gz(chunk, os.path.join(dir_path, f"part-{s:05d}.jsonl.gz"))
    return dir_path
