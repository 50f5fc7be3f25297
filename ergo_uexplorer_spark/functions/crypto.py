"""Crypto/parsing functions (SURVEY §2.2 T6-T9).

Hashing stays JVM-side (`sha2(unhex(...))` — exact equivalent of the
reference's Sha256 over tree bytes, ErgoTreeParser.scala:105-108). Only
base58check and the tree/template/register parsing are Python — they run
as Arrow-batched pandas UDFs that parse each distinct tree of an Arrow
batch once: over the deduplicated `ergo_trees` dimension at ingest, and
over a sync batch's output rows directly (a hot tree costs one parse per
batch, not one per box).

Scope matches SURVEY §7's "crypto fidelity" decision: sha256 exact;
template extraction for the fixture/common tree forms; base58check with
blake2b256 checksum like Ergo's address encoding; exotic/malformed trees
degrade to the fallback-address path exactly like
ErgoTreeParser.scala:87-90.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

P2PK_PREFIX = 0x01
P2SH_PREFIX = 0x02
P2S_PREFIX = 0x03


def _b58encode(data: bytes) -> str:
    num = int.from_bytes(data, "big")
    out = []
    while num:
        num, rem = divmod(num, 58)
        out.append(_B58_ALPHABET[rem])
    n_leading_zeros = len(data) - len(data.lstrip(b"\x00"))
    out.extend(_B58_ALPHABET[0] * n_leading_zeros)
    return "".join(reversed(out)) or _B58_ALPHABET[0]


def _b58decode(s: str) -> bytes | None:
    try:
        num = 0
        for ch in s:
            num = num * 58 + _B58_ALPHABET.index(ch)
        raw = num.to_bytes((num.bit_length() + 7) // 8, "big")
        pad = len(s) - len(s.lstrip(_B58_ALPHABET[0]))
        return b"\x00" * pad + raw
    except ValueError:
        return None


def decode_address(addr: str) -> tuple[int, bytes] | None:
    """Base58 address → (type_prefix, content) with the blake2b256
    checksum VALIDATED (ErgoTreeParser.scala:93-99 encode path inverted;
    Const.scala:123-132 head byte). None on bad base58, short payload,
    or checksum mismatch — callers must error, not silently match
    nothing."""
    raw = _b58decode(addr)
    if raw is None or len(raw) < 5:
        return None
    body, checksum = raw[:-4], raw[-4:]
    if hashlib.blake2b(body, digest_size=32).digest()[:4] != checksum:
        return None
    return body[0], body[1:]


def _address_from_content(prefix: int, content: bytes) -> str:
    """base58(prefix ++ content ++ blake2b256-checksum[:4]) — Ergo's
    address encoding shape (ErgoAddressEncoder semantics)."""
    body = bytes([prefix]) + content
    checksum = hashlib.blake2b(body, digest_size=32).digest()[:4]
    return _b58encode(body + checksum)


# ErgoTree header bits (public sigmastate ErgoTreeSerializer):
#   0-2 version, 0x08 = size field present, 0x10 = constant segregation.
TREE_SIZE_FLAG = 0x08
TREE_SEGREGATION_FLAG = 0x10

# Canonical Pay2SH template marker (synthetic serialized stand-in for
# ErgoAddressEncoder.IsPay2SHAddress's script shape: the template that
# checks blake2b(script) against the 24-byte hash constant). Any tree of
# form header|size|1-const(Coll[Byte] of 24 bytes)|this-template IS the
# P2SH script for that hash.
P2SH_TEMPLATE_HEX = "ea02d193b4cbe4e3"
P2SH_HASH_LEN = 24

# Serialized ConstantPlaceholder(0): the whole template of a
# constant-segregated P2PK tree ("sigmaProp(proveDlog(pk))" with the
# prop segregated out). ErgoTreeParser.scala:44-46 maps this root back
# to ProveDlogProp and emits NO T8 for it; fromProposition renders it
# as the P2PK address, same as the non-segregated 0008cd form.
SEGREGATED_P2PK_TEMPLATE_HEX = "7300"


def _segregated_p2pk_point(n, consts, template) -> bytes | None:
    """33-byte curve point iff (n, consts, template) is the segregated
    P2PK shape: exactly one ProveDlog SigmaProp constant and a
    placeholder-only template."""
    if (
        n == 1
        and consts[0][0] == "SSigmaProp"
        and len(consts[0][1]) == 66
        and template.hex() == SEGREGATED_P2PK_TEMPLATE_HEX
    ):
        return bytes.fromhex(consts[0][1])
    return None


def _vlq_hex(n: int) -> str:
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


def p2sh_tree(script_hash24_hex: str) -> str:
    """The canonical P2SH script for a 24-byte script hash: v1 segregated
    tree (header 0x19) whose single constant is Coll[Byte](hash) and
    whose template is the fixed P2SH marker — `address_to_ergo_tree`
    inverse of the P2SH address branch (base58Address2ErgoTree for
    Pay2SHAddress)."""
    payload = "01" + "0e" + _vlq_hex(P2SH_HASH_LEN) + script_hash24_hex
    payload += P2SH_TEMPLATE_HEX
    return "19" + _vlq_hex(len(payload) // 2) + payload


def _parse_tree(raw: bytes):
    """deserializeHeaderWithTreeBytes (ErgoTreeParser.scala:25-28 /
    sigmastate ErgoTreeSerializer): header byte → optional VLQ tree size
    (validated against the actual remainder) → VLQ constant count →
    serialized constants → template bytes. Returns
    (n_consts, consts: [(type, rendered)], template_bytes) or raises."""
    if not raw:
        raise ValueError("empty tree")
    header = raw[0]
    i = 1
    if header & TREE_SIZE_FLAG:
        size, i = _read_vlq(raw, i)
        if size != len(raw) - i:
            raise ValueError("tree size mismatch")
    if not header & TREE_SEGREGATION_FLAG:
        return 0, [], raw[i:]
    n, i = _read_vlq(raw, i)
    consts = []
    for _ in range(n):
        c, i = _decode_constant(raw, i)
        consts.append(c)
    return n, consts, raw[i:]


def _tree_to_address(tree_hex: str) -> str:
    """ErgoTree hex → address (ergoTreeHex2ErgoAddress semantics):
    P2PK trees (0008cd + 33-byte point) encode the point; trees matching
    the canonical P2SH shape encode the 24-byte script hash as P2SH;
    other valid trees encode the whole script as P2S; invalid hex falls
    back to a sentinel P2S of the utf-8 bytes (the reference falls back
    to Pay2S of FalseLeaf — ours keeps the offending bytes visible)."""
    try:
        raw = bytes.fromhex(tree_hex)
        if tree_hex.startswith("0008cd") and len(tree_hex) == 6 + 66:
            return _address_from_content(P2PK_PREFIX, raw[3:])
        try:
            n, consts, template = _parse_tree(raw)
            if (
                n == 1
                and template.hex() == P2SH_TEMPLATE_HEX
                and consts[0][0] == "Coll[SByte]"
                and len(consts[0][1]) == P2SH_HASH_LEN * 2
            ):
                return _address_from_content(
                    P2SH_PREFIX, bytes.fromhex(consts[0][1])
                )
            point = _segregated_p2pk_point(n, consts, template)
            if point is not None:
                return _address_from_content(P2PK_PREFIX, point)
            # sized-header P2PK (ErgoTreeParser.scala:36-55 root match /
            # fromProposition): a v0 tree serialized WITH the explicit
            # size field (header 0x08) and no segregation still roots at
            # SigmaPropConstant(ProveDlog) — same proposition as the
            # canonical 0008cd form, so it renders as the P2PK address
            # of its point, not as P2S of the raw bytes.
            if n == 0 and len(template) == 35 and template[:2] == b"\x08\xcd":
                return _address_from_content(P2PK_PREFIX, template[2:])
        except (ValueError, IndexError):
            pass  # unparseable script: still addressable as raw P2S
        return _address_from_content(P2S_PREFIX, raw)
    except (ValueError, IndexError):
        # IndexError too: the constant decoders index raw bytes and a
        # truncated blob can run past the end (e.g. an SBoolean whose
        # data byte is missing) — an uncaught exception here kills the
        # executor task for the whole partition on one malformed tree
        # served by an untrusted chain (_decode_register and _tree_t8
        # already caught both; found by the fuzz property suite).
        return _address_from_content(P2S_PREFIX, tree_hex.encode())


def _tree_t8(tree_hex: str) -> str | None:
    """Template (T8) extraction, real segmentation (ErgoTreeParser
    .scala:25-28,36-55): T8 exists iff the tree has segregated constants
    (isErgoTreeT8 = constants.nonEmpty); the template is everything
    after them. Non-segregated P2PK trees and malformed/unsupported
    trees → None (the reference's fallback). Constant-segregated P2PK
    trees are EXCLUDED like the reference's
    SigmaPropConstant(ProveDlogProp) root case (ErgoTreeParser
    .scala:44-46): the placeholder-only template carries no script
    structure worth indexing."""
    if not tree_hex or tree_hex.startswith("0008cd"):
        return None
    try:
        n, consts, template = _parse_tree(bytes.fromhex(tree_hex))
    except (ValueError, IndexError):
        return None
    if n == 0 or not template:
        return None
    if _segregated_p2pk_point(n, consts, template) is not None:
        return None
    return template.hex()


def _fallback_hash(tree_hex: str) -> str:
    """sha256 of the hex bytes when valid, else of the utf-8 bytes
    (malformed-tree fallback)."""
    try:
        raw = bytes.fromhex(tree_hex)
    except ValueError:
        raw = tree_hex.encode()
    return hashlib.sha256(raw).hexdigest()


def _per_distinct(fn, tree_hex: pd.Series) -> pd.Series:
    """`fn` over each distinct non-empty tree of one Arrow batch, once:
    a hot tree repeated on many boxes of a batch costs one parse."""
    codes, uniq = pd.factorize(tree_hex)
    # null rows carry code -1, which indexes the trailing None
    vals = np.array(
        [fn(t) if t else None for t in uniq] + [None], dtype=object
    )
    return pd.Series(vals[codes], index=tree_hex.index)


@pandas_udf(StringType())
def ergo_tree_to_address(tree_hex: pd.Series) -> pd.Series:
    return _per_distinct(_tree_to_address, tree_hex)


@pandas_udf(StringType())
def ergo_tree_t8(tree_hex: pd.Series) -> pd.Series:
    return _per_distinct(_tree_t8, tree_hex)


@pandas_udf(StringType())
def ergo_tree_hash_py(tree_hex: pd.Series) -> pd.Series:
    return _per_distinct(_fallback_hash, tree_hex)


@pandas_udf(StringType())
def address_type(addr: pd.Series) -> pd.Series:
    """Base58-decode head byte → P2PK/P2SH/P2S (Const.scala:123-132)."""

    def _t(a: str | None) -> str | None:
        if not a:
            return None
        raw = _b58decode(a)
        if not raw:
            return None
        return {P2PK_PREFIX: "P2PK", P2SH_PREFIX: "P2SH", P2S_PREFIX: "P2S"}.get(
            raw[0], "UNKNOWN"
        )

    return addr.map(_t)


def ergo_tree_hash(tree_hex_col: Column) -> Column:
    """sha256 of the tree bytes — JVM built-in for valid hex
    (`sha2(unhex(x))`), Python fallback hash for malformed trees (the
    rare path, matching ErgoTreeParser's fallback)."""
    valid = tree_hex_col.rlike("^([0-9a-fA-F]{2})+$")
    return F.when(
        valid, F.lower(F.sha2(F.unhex(tree_hex_col), 256))
    ).otherwise(ergo_tree_hash_py(tree_hex_col))


def ergo_tree_t8_hash(t8_hex_col: Column) -> Column:
    return F.when(
        t8_hex_col.isNotNull(), F.lower(F.sha2(F.unhex(t8_hex_col), 256))
    )


# ---------------------------------------------------------------------------
# register decoding (T6/T8 subset: Coll[Byte], SInt-ish, EIP-4 props)
# ---------------------------------------------------------------------------


# Sigma type/value decoding (RegistersParser.scala:20-89 + the public
# sigmastate TypeSerializer scheme for embeddable types):
#   typeCode = constrId * 12 + primId
#   constrId 0 = primitive, 1 = Coll[T], 2 = Coll[Coll[T]],
#            3 = Option[T], 4 = Option[Coll[T]], 7 = (T, T) pair
# Rendering mirrors renderEvaluatedValue: Coll[Byte] → hex, numbers →
# decimal string, nested colls/tuples → "[a,b]", Option None → "null",
# SigmaProp/GroupElement → pk hex.
_PRIM_NAMES = {
    1: "SBoolean",
    2: "SByte",
    3: "SShort",
    4: "SInt",
    5: "SLong",
    6: "SBigInt",
    7: "SGroupElement",
    8: "SSigmaProp",
}
_PROVE_DLOG_OP = 0xCD


def _read_vlq(b: bytes, i: int) -> tuple[int, int]:
    """Unsigned VLQ (7-bit little-endian groups) → (value, next_index)."""
    shift = value = 0
    while True:
        if i >= len(b) or shift > 63:
            raise ValueError("truncated vlq")
        byte = b[i]
        i += 1
        value |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return value, i
        shift += 7


def _zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _decode_prim(b: bytes, i: int, prim: int) -> tuple[str, int]:
    if prim == 1:  # SBoolean
        v, i = b[i], i + 1
        return ("true" if v else "false"), i
    if prim == 2:  # SByte: one signed byte
        v = b[i] - 256 if b[i] >= 128 else b[i]
        return str(v), i + 1
    if prim in (3, 4, 5):  # SShort/SInt/SLong: zigzag VLQ
        u, i = _read_vlq(b, i)
        return str(_zigzag(u)), i
    if prim == 6:  # SBigInt: length-prefixed big-endian signed
        n, i = _read_vlq(b, i)
        if i + n > len(b):
            raise ValueError("truncated bigint")
        return str(int.from_bytes(b[i : i + n], "big", signed=True)), i + n
    if prim == 7:  # SGroupElement: 33-byte point → hex
        if i + 33 > len(b):
            raise ValueError("truncated point")
        return b[i : i + 33].hex(), i + 33
    if prim == 8:  # SSigmaProp: ProveDlog(point) → pk hex
        if i >= len(b) or b[i] != _PROVE_DLOG_OP or i + 34 > len(b):
            raise ValueError("unsupported sigma prop")
        return b[i + 1 : i + 34].hex(), i + 34
    raise ValueError(f"unsupported prim {prim}")


_TUPLE_TYPE_CODE = 96  # STuple.TupleTypeCode (general n-tuple)
_MAX_TYPE_DEPTH = 32


def _embeddable(prim: int):
    if not 1 <= prim <= 8:
        raise ValueError(f"non-embeddable prim {prim}")
    return ("prim", prim)


def _read_type(b: bytes, i: int, depth: int = 0):
    """Recursive SigmaType reader (sigmastate TypeSerializer layout:
    code = constrId*12 + primId; primId 0 ⇒ the argument type follows
    recursively). Returns (type_tree, next_index) where type_tree is
    ("prim", id) | ("Coll", t) | ("Option", t) | ("Tuple", [t, ...])."""
    if depth > _MAX_TYPE_DEPTH or i >= len(b):
        raise ValueError("bad type")
    code = b[i]
    i += 1
    if code == 0:
        raise ValueError("zero type code")
    constr, prim = divmod(code, 12)
    if constr == 0:
        return _embeddable(prim), i

    def arg(j: int):
        return (
            _read_type(b, j, depth + 1) if prim == 0 else (_embeddable(prim), j)
        )

    if constr == 1:  # Coll[T]
        t, i = arg(i)
        return ("Coll", t), i
    if constr == 2:  # Coll[Coll[T]]
        t, i = arg(i)
        return ("Coll", ("Coll", t)), i
    if constr == 3:  # Option[T]
        t, i = arg(i)
        return ("Option", t), i
    if constr == 4:  # Option[Coll[T]]
        t, i = arg(i)
        return ("Option", ("Coll", t)), i
    if constr == 5:  # (T, _); primId 0 ⇒ both components recursive
        if prim == 0:
            t1, i = _read_type(b, i, depth + 1)
        else:
            t1 = _embeddable(prim)
        t2, i = _read_type(b, i, depth + 1)
        return ("Tuple", [t1, t2]), i
    if constr == 6:  # (_, T); primId 0 ⇒ TripleTypeCode (0x48)
        if prim == 0:
            # sigmastate TypeSerializer: constrId 6 with primId 0 is the
            # Triple type code — three component types follow. (Symmetric
            # non-embeddable pairs are never encoded this way; they
            # serialize via Pair1 with both types explicit.)
            ts = []
            for _ in range(3):
                t, i = _read_type(b, i, depth + 1)
                ts.append(t)
            return ("Tuple", ts), i
        t1, i = _read_type(b, i, depth + 1)
        return ("Tuple", [t1, _embeddable(prim)]), i
    if constr == 7:  # (T, T) symmetric embeddable; primId 0 ⇒ Quadruple
        if prim == 0:
            # QuadrupleTypeCode (0x54): four component types follow.
            ts = []
            for _ in range(4):
                t, i = _read_type(b, i, depth + 1)
                ts.append(t)
            return ("Tuple", ts), i
        t = _embeddable(prim)
        return ("Tuple", [t, t]), i
    if code == _TUPLE_TYPE_CODE:  # general tuple: u8 arity + item types
        if i >= len(b):
            raise ValueError("truncated tuple type")
        n, i = b[i], i + 1
        if n < 2:
            raise ValueError("tuple arity < 2")
        ts = []
        for _ in range(n):
            t, i = _read_type(b, i, depth + 1)
            ts.append(t)
        return ("Tuple", ts), i
    # SAny/SUnit/SBox/SAvlTree/SContext/...: valid types whose constant
    # DATA we (like RegistersParser's `case _ => OptionT.none`) do not
    # render — the register keeps its raw hex
    raise ValueError(f"unsupported type code {code}")


def _type_name(t) -> str:
    """renderEvaluatedValue's type term (SigmaType.render: Coll[..],
    Option[..], tuple as "(A, B)" with ", " separator)."""
    kind = t[0]
    if kind == "prim":
        return _PRIM_NAMES[t[1]]
    if kind == "Coll":
        return f"Coll[{_type_name(t[1])}]"
    if kind == "Option":
        return f"Option[{_type_name(t[1])}]"
    return "(" + ", ".join(_type_name(x) for x in t[1]) + ")"


def _decode_data(b: bytes, i: int, t) -> tuple[str, int]:
    """Recursive constant-data decoder for a parsed type tree, rendering
    exactly like renderEvaluatedValue: hex for Coll[Byte]/GroupElement/
    SigmaProp-pk, decimal strings for numbers, [..] joined with "," for
    collections and tuples, null for None."""
    kind = t[0]
    if kind == "prim":
        return _decode_prim(b, i, t[1])
    if kind == "Coll":
        elem = t[1]
        n, i = _read_vlq(b, i)
        if elem == ("prim", 2):  # Coll[Byte] → hex blob
            if i + n > len(b):
                raise ValueError("truncated coll")
            return b[i : i + n].hex(), i + n
        if elem == ("prim", 1):  # Coll[Boolean]: bit-packed, LSB first
            nbytes = (n + 7) // 8
            if i + nbytes > len(b):
                raise ValueError("truncated bool coll")
            bits = [
                "true" if (b[i + (j >> 3)] >> (j & 7)) & 1 else "false"
                for j in range(n)
            ]
            return "[" + ",".join(bits) + "]", i + nbytes
        parts = []
        for _ in range(n):
            r, i = _decode_data(b, i, elem)
            parts.append(r)
        return "[" + ",".join(parts) + "]", i
    if kind == "Option":
        if i >= len(b):
            raise ValueError("truncated option")
        some, i = b[i], i + 1
        if some == 0:
            return "null", i
        return _decode_data(b, i, t[1])
    # Tuple: components concatenated in order
    parts = []
    for sub in t[1]:
        r, i = _decode_data(b, i, sub)
        parts.append(r)
    return "[" + ",".join(parts) + "]", i


def _decode_constant(b: bytes, i: int) -> tuple[tuple[str, str], int]:
    """One serialized constant at offset i → ((sigmaType, rendered),
    next_index); raises on anything unsupported/truncated. Covers the
    full embeddable algebra (RegistersParser.scala:20-79): primitives,
    Coll/Option (nested, incl. recursive element types), asymmetric and
    symmetric pairs, general n-tuples, GroupElement and ProveDlog
    SigmaProp; SBox/SAvlTree-style constants fail here and keep their
    raw hex — the reference's own fallback."""
    t, i = _read_type(b, i)
    rendered, i = _decode_data(b, i, t)
    return (_type_name(t), rendered), i


def _decode_register(hex_val: str | None) -> tuple[str, str] | None:
    """Sigma-serialized register hex → (sigmaType, renderedValue); None
    when undecodable (ExpandedRegister(raw, None), RegistersParser
    .scala:80-88). Strict: trailing bytes are a decode failure, exactly
    like ValueSerializer.deserialize."""
    if not hex_val:
        return None
    try:
        b = bytes.fromhex(hex_val)
        if not b:
            return None
        (tname, rendered), i = _decode_constant(b, 0)
        if i != len(b):  # trailing garbage = not a valid constant
            return None
        return (tname, rendered)
    except (ValueError, IndexError):
        return None


@pandas_udf(
    StructType(
        [StructField("sigma_type", StringType()), StructField("rendered", StringType())]
    )
)
def decode_register(hex_val: pd.Series) -> pd.DataFrame:
    decoded = hex_val.map(_decode_register)
    return pd.DataFrame(
        {
            "sigma_type": decoded.map(lambda d: d[0] if d else None),
            "rendered": decoded.map(lambda d: d[1] if d else None),
        }
    )


def decode_utf8_register(hex_col: "Column | str") -> Column:
    """EIP-4 token props: R4/R5/R6 are SIGMA-SERIALIZED Coll[Byte]
    constants — type code 0e, unsigned-VLQ length, payload
    (RegistersParser.parseAny → renderEvaluatedValue; TokenPropsParser
    .scala:14-19 consumes the rendered value). Strips the prefix
    JVM-side (1- and 2-byte VLQ, i.e. payloads ≤ 16383 bytes — names are
    capped at 1000 by the reference's toUtf8String), validates the
    declared length against the actual hex, and UTF-8-decodes the
    payload. Null on anything malformed — the reference's props parser
    returns None rather than failing ingest.

    Accepts a Column or a SQL fragment string. The string form builds
    the WHOLE expression as one `F.expr` — a single py4j round trip
    where the Column form pays ~30 (guide §7.3: at 3 calls per
    `normalize`, expression construction was a measurable slice of
    ingest's driver time). Both forms are pinned identical by
    `test_decode_utf8_register_sql_equals_column`."""
    if isinstance(hex_col, str):
        return F.expr(decode_utf8_register_sql(hex_col))
    h = F.lower(hex_col)
    b1 = F.conv(F.substring(h, 3, 2), 16, 10).cast("long")
    b2 = F.conv(F.substring(h, 5, 2), 16, 10).cast("long")
    one = b1 < 128
    plen = F.when(one, b1).otherwise(b1 - 128 + b2 * 128)
    start = F.when(one, F.lit(5)).otherwise(F.lit(7))
    raw = F.unhex(F.substring(h, start, plen * 2))
    well_formed = (
        h.rlike("^0e([0-9a-f]{2})+$")
        & (one | (b2 < 128))  # VLQ terminates within 2 bytes
        & (F.length(h) == start - 1 + plen * 2)  # declared == actual
        & (plen <= 1000)  # TokenPropsParser MaxStringLen
    )
    return F.when(well_formed & F.is_valid_utf8(raw), F.decode(raw, "UTF-8"))


def decode_utf8_register_sql(c: str) -> str:
    """SQL-text twin of `decode_utf8_register` over the column/fragment
    `c` — pure Python string building (zero py4j traffic), composable
    into larger `selectExpr` lists (operators/normalize.tokens builds
    its four EIP-4 prop columns from this)."""
    h = f"lower({c})"
    b1 = f"CAST(conv(substring({h}, 3, 2), 16, 10) AS BIGINT)"
    b2 = f"CAST(conv(substring({h}, 5, 2), 16, 10) AS BIGINT)"
    one = f"({b1} < 128)"
    plen = f"(CASE WHEN {one} THEN {b1} ELSE {b1} - 128 + {b2} * 128 END)"
    start = f"(CASE WHEN {one} THEN 5 ELSE 7 END)"
    raw = f"unhex(substring({h}, {start}, {plen} * 2))"
    well_formed = (
        f"({h} RLIKE '^0e([0-9a-f]{{2}})+$'"
        f" AND ({one} OR {b2} < 128)"  # VLQ terminates within 2 bytes
        f" AND length({h}) = {start} - 1 + {plen} * 2"  # declared == actual
        f" AND {plen} <= 1000)"  # TokenPropsParser MaxStringLen
    )
    return (
        f"CASE WHEN {well_formed} AND is_valid_utf8({raw})"
        f" THEN decode({raw}, 'UTF-8') END"
    )


# Ship this module's UDFs by VALUE: Spark python workers don't share the
# driver's sys.path, so by-reference pickling breaks whenever the driver
# isn't launched from the repo root (no --py-files needed this way).
try:  # pragma: no cover
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001 - best-effort; --py-files is the fallback
    pass
