"""ABI event → static Spark schema + decoder expressions.

The reference derives event schemas dynamically from go-ethereum ABI
parsing (`internal/config/config.go:98-132`, `internal/parser/
parser.go:65-103`) and freezes CSV headers from the first row
(`internal/sink/csv.go:84-99` — a fragility we deliberately fix,
SURVEY §7 hard part 4). Here the ABI fragment *is* the schema
authority: each event compiles to a deterministic StructType of meta
columns + typed parameter columns, plus Catalyst decoder expressions.

Decoding strategy (SURVEY §2.G) — one recursive decoder, the analog
of go-ethereum's `abi.UnpackIntoMap` (`internal/parser/parser.go:
74-77`), built entirely from native JVM-side expressions:
- topic0 (G1): keccak-256 of the canonical signature, computed once
  driver-side (sources/keccak.py) and broadcast.
- indexed topics (G3) and static scalar data slots (G2): substring +
  conv straight off the hex string, so an event whose data holds only
  static scalars never unhexes its blob.
- uint256/int256 (SURVEY §7 hard part 1): dual-column convention —
  lossless ``<name>_hex`` string plus ``<name>`` DecimalType(38,0),
  decoded for both signs with two-limb hi·2⁶⁴+lo decimal arithmetic.
  Values beyond 38 digits keep the hex column as the source of truth
  and the decimal saturates to NULL.
- dynamic types (string, bytes, T[]), static composites (T[k],
  tuples) and everything nested in them decode through the recursive
  pair `_decode_static_at` / `_decode_dyn_at` over the data blob
  unhexed once into a BinaryType column: head-slot offset →
  length-prefixed tail, tuple members through tuple-relative offset
  words, array elements through per-element strides or offsets. The
  expressions are valid inside higher-order-function lambdas, so wide
  signed ints decode inside array elements too. Indexed
  dynamic/array/tuple params surface as their keccak-hash topic
  (go-ethereum common.Hash semantics).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .keccak import keccak256_hex

META_FIELDS = [
    ("chain_id", T.StringType()),
    ("contract", T.StringType()),
    ("contract_name", T.StringType()),
    ("event_name", T.StringType()),
    ("block_number", T.LongType()),
    ("timestamp", T.LongType()),
    ("tx_hash", T.StringType()),
    ("tx_from", T.StringType()),
]

RAW_LOG_SCHEMA = T.StructType([
    T.StructField("address", T.StringType()),
    T.StructField("topics", T.ArrayType(T.StringType())),
    T.StructField("data", T.StringType()),
    T.StructField("block_number", T.LongType()),
    T.StructField("tx_hash", T.StringType()),
    T.StructField("log_index", T.IntegerType()),
])

_ARRAY_RE = re.compile(r"^(.*)\[(\d*)\]$")


@dataclass(frozen=True)
class AbiInput:
    name: str
    type: str
    indexed: bool
    # tuple/struct params carry their members here (ABI JSON
    # "components"), recursively — empty for elementary types.
    components: tuple["AbiInput", ...] = ()


def _elem_of(inp: AbiInput) -> AbiInput:
    """The element AbiInput of an array-typed input (strips ONE array
    suffix; components pass through for tuple elements)."""
    m = _ARRAY_RE.match(inp.type)
    return AbiInput(inp.name, m.group(1), False, inp.components)


def _canon_type(inp: AbiInput) -> str:
    """Canonical signature type: tuples render as (t1,t2,...) with
    array suffixes preserved — the form keccak'd into topic0
    (go-ethereum abi.Type.String() semantics)."""
    m = _ARRAY_RE.match(inp.type)
    if m:
        return f"{_canon_type(_elem_of(inp))}[{m.group(2)}]"
    if inp.type == "tuple":
        return "(" + ",".join(_canon_type(c) for c in inp.components) + ")"
    return inp.type


@dataclass(frozen=True)
class AbiEvent:
    name: str
    inputs: tuple[AbiInput, ...]
    # declared name of an overload that parse_abi renamed (go-ethereum
    # Event.RawName); empty when it equals ``name``
    raw_name: str = ""

    @property
    def signature(self) -> str:
        args = ",".join(_canon_type(i) for i in self.inputs)
        return f"{self.raw_name or self.name}({args})"

    @property
    def topic0(self) -> str:
        return keccak256_hex(self.signature)


def _parse_input(i: dict) -> AbiInput:
    return AbiInput(
        i["name"], i["type"], bool(i.get("indexed", False)),
        tuple(_parse_input(c) for c in i.get("components", [])))


def parse_abi(abi_json: str | list) -> dict[str, AbiEvent]:
    """Parse an ABI document (JSON string or loaded list) into events,
    mirroring `internal/config/config.go:124-129`; tuple components
    parse recursively (go-ethereum `abi.NewType` component handling,
    the path the reference's `abi.UnpackIntoMap` relies on).
    Overloads all survive: later ones are keyed and named Transfer0,
    Transfer1, ... (go-ethereum `abi.ResolveNameConflict`) while their
    signature and topic0 keep the declared name."""
    doc = json.loads(abi_json) if isinstance(abi_json, str) else abi_json
    events: dict[str, AbiEvent] = {}
    for frag in doc:
        if frag.get("type") != "event":
            continue
        declared = name = frag["name"]
        idx = 0
        while name in events:
            name, idx = f"{declared}{idx}", idx + 1
        events[name] = AbiEvent(
            name=name,
            inputs=tuple(_parse_input(i) for i in frag.get("inputs", [])),
            raw_name="" if name == declared else declared,
        )
    return events


def _int_bits(abi_type: str) -> int | None:
    for prefix in ("uint", "int"):
        if abi_type.startswith(prefix):
            digits = abi_type[len(prefix):] or "256"
            if digits.isdigit():
                return int(digits)
    return None


def _is_scalar(inp: AbiInput) -> bool:
    """Elementary static type: one head word, decoded by _decode_word
    (everything but string, bytes, arrays and tuples)."""
    t = inp.type
    return not (t in ("string", "bytes", "tuple") or _ARRAY_RE.match(t))


def _has_hex_twin(inp: AbiInput) -> bool:
    """Scalar integers wider than 63 bits carry a lossless ``_hex``
    twin column (array elements and tuple members carry none — the
    raw data blob is their lossless source)."""
    return (_int_bits(inp.type) or 0) > 63


def _is_dynamic(inp: AbiInput) -> bool:
    """Dynamic per the ABI spec (head slot holds a byte offset to the
    tail): string, bytes, T[], T[k] of dynamic T, and tuples with any
    dynamic member — go-ethereum's `abi.Type.requiresLengthPrefix` /
    `isDynamicType` semantics used by `abi.UnpackIntoMap` (reference
    `internal/parser/parser.go:74-77`)."""
    t = inp.type
    if t in ("string", "bytes"):
        return True
    m = _ARRAY_RE.match(t)
    if m:
        return m.group(2) == "" or _is_dynamic(_elem_of(inp))
    return t == "tuple" and any(_is_dynamic(c) for c in inp.components)


def _head_slots(inp: AbiInput) -> int:
    """32-byte head slots a parameter occupies: 1 for every dynamic
    type (the offset word) and static scalar; inline static
    composites take k × element slots (T[k]) or the sum of their
    members' slots (tuples)."""
    if _is_dynamic(inp):
        return 1
    m = _ARRAY_RE.match(inp.type)
    if m:
        return int(m.group(2)) * _head_slots(_elem_of(inp))
    if inp.type == "tuple":
        return sum(_head_slots(c) for c in inp.components)
    return 1


def _comp_slot_offsets(comps) -> list[int]:
    """Cumulative head-slot offset of each member of a tuple encoding —
    tuple components, or an event's unindexed params (the data section
    is encoded as one tuple of them)."""
    offs, slot = [], 0
    for c in comps:
        offs.append(slot)
        slot += _head_slots(c)
    return offs


def spark_type(inp: AbiInput, *, indexed: bool = False) -> T.DataType:
    """Spark type of one param: arrays → ArrayType, tuples →
    StructType (no per-member _hex twins — members beyond
    Decimal(38,0) NULL-saturate with the raw blob as the lossless
    source), indexed non-scalars → their keccak-hash topic string."""
    t = inp.type
    _reject_reserved(t)
    if indexed and not _is_scalar(inp):
        return T.StringType()
    if _ARRAY_RE.match(t):
        return T.ArrayType(spark_type(_elem_of(inp)))
    if t == "tuple":
        return T.StructType(
            [T.StructField(c.name, spark_type(c)) for c in inp.components])
    bits = _int_bits(t)
    if bits is not None:
        # unsigned types need one extra bit of headroom in a signed
        # Spark integral (uint32 max 2^32−1 overflows IntegerType)
        room = 0 if t.startswith("int") else 1
        if bits + room <= 32:
            return T.IntegerType()
        if bits + room <= 64:
            return T.LongType()
        return T.DecimalType(38, 0)
    if t == "bool":
        return T.BooleanType()
    return T.StringType()  # address, bytesN, bytes, string, function


def event_schema(event: AbiEvent, contract_name: str = "") -> T.StructType:
    """Deterministic StructType: meta columns + one per ABI param
    (+ lossless _hex twin for >63-bit scalar integers)."""
    fields = [T.StructField(n, t) for n, t in META_FIELDS]
    for inp in event.inputs:
        fields.append(T.StructField(
            inp.name, spark_type(inp, indexed=inp.indexed)))
        if _has_hex_twin(inp):
            fields.append(T.StructField(f"{inp.name}_hex", T.StringType()))
    return T.StructType(fields)


def _word(col: Column, slot: int) -> Column:
    """32-byte word `slot` of a 0x-prefixed data blob, as bare hex."""
    return F.substring(col, 3 + 64 * slot, 64)


def _reject_reserved(abi_type: str) -> None:
    """``fixed``/``ufixed`` are reserved-unimplemented even in
    go-ethereum (the reference's decode path, `abi.NewType`, rejects
    them); fail at plan-build time with a clear message instead of
    silently emitting a raw-hex column a caller would mistake for a
    decoded value."""
    base = abi_type
    m = _ARRAY_RE.match(base)
    while m:
        base = m.group(1)
        m = _ARRAY_RE.match(base)
    if base.startswith(("fixed", "ufixed")):
        raise NotImplementedError(
            f"ABI type {abi_type!r}: fixed/ufixed are reserved and not "
            "implemented (go-ethereum rejects them too); re-encode the "
            "value as intN/uintN with an off-chain scale factor")


def _decode_word(word: Column, abi_type: str) -> Column:
    """Native decode of one 32-byte hex word of an elementary static
    type: conv for ≤63-bit ints, two-limb decimal arithmetic for wider
    ones, hex slices for address/bytesN/function."""
    _reject_reserved(abi_type)
    bits = _int_bits(abi_type)
    if abi_type == "address":
        return F.concat(F.lit("0x"), F.lower(F.substring(word, 25, 40)))
    if abi_type == "bool":
        return (F.conv(F.substring(word, 49, 16), 16, 10).cast("long") != 0)
    if bits is not None and bits <= 63:
        # Slice exactly ceil(bits/4) hex chars: a two's-complement
        # word sign-extends through all 64 chars, so a fixed 16-char
        # slice would overflow long for negative int<N>. For the real
        # ABI widths (multiples of 8 ≤ 56, plus ≤32) the slice always
        # fits a signed long. conv is unsigned → sign-extend manually.
        n_hex = (bits + 3) // 4
        raw = F.conv(F.substring(word, 65 - n_hex, n_hex), 16, 10).cast("long")
        if abi_type.startswith("int"):
            half, full = 1 << (bits - 1), 1 << bits
            raw = F.when(raw >= half, raw - full).otherwise(raw)
        # target integral mirrors spark_type (unsigned needs headroom)
        room = 0 if abi_type.startswith("int") else 1
        return raw.cast("int" if bits + room <= 32 else "long")
    if abi_type == "int64":
        # exact native decode: the 16-hex limb as unsigned decimal
        # (conv→long would wrap for values ≥ 2^63), then two's
        # complement in decimal arithmetic, narrowed losslessly
        d = F.conv(F.substring(word, 49, 16), 16, 10).cast("decimal(20,0)")
        two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
        two64n = F.lit("18446744073709551616").cast("decimal(21,0)")
        return F.when(d >= two63, d - two64n).otherwise(d).cast("long")
    if abi_type == "uint64":
        # single-limb fast path: the value lives in the low 16 hex and
        # ABI zero-padding makes the upper 48 zero — one conv and no
        # decimal multiply (the two-limb general path costs ~2× on
        # decode-heavy scans; cf. q109's deliberate uint48 note)
        return F.when(
            F.substring(word, 1, 48) == "0" * 48,
            F.conv(F.substring(word, 49, 16), 16, 10)
            .cast("decimal(20,0)")).cast("decimal(38,0)")
    if bits is not None:
        # Two-limb decimal decode for BOTH signs: value ≡ hi64·2^64 +
        # lo64 over the low 128 bits. For every |v| < 10^38 (the
        # Decimal(38,0) range; 10^38 < 2^127) the top 128 bits of the
        # sign-extended word are all-0 (v ≥ 0) or all-F (v < 0), so
        # those two cases decode exactly — negatives via 2^128 −
        # magnitude limb arithmetic, because the raw low-128 residue of
        # a small negative is ~3.4e38 and would overflow the decimal
        # before the subtraction. Anything else → NULL (|v| ≥ 2^128),
        # and magnitudes in (1e38, 3.4e38) NULL too; the _hex twin /
        # raw blob stays lossless. Being plain expressions, this works
        # inside higher-order-function lambdas (int256[], intN[k][m]).
        # try_* arithmetic NULLs on overflow under BOTH ANSI and legacy
        # modes — plain decimal ops would THROW under Spark 4's default
        # ANSI for magnitudes in (1e38, 3.4e38), which the sign checks
        # alone cannot exclude.
        hi = F.conv(F.substring(word, 33, 16), 16, 10).cast("decimal(38,0)")
        lo = F.conv(F.substring(word, 49, 16), 16, 10).cast("decimal(38,0)")
        two64 = F.lit("18446744073709551616").cast("decimal(38,0)")
        pos_val = F.try_add(F.try_multiply(hi, two64), lo) \
            .try_cast("decimal(38,0)")
        if abi_type.startswith("uint"):
            return F.when(F.substring(word, 1, 32) == "0" * 32, pos_val)
        two64m1 = F.lit("18446744073709551615").cast("decimal(38,0)")
        neg_val = F.try_subtract(
            F.lit(0).cast("decimal(38,0)"),
            F.try_add(
                F.try_multiply(F.try_subtract(two64m1, hi), two64),
                F.try_subtract(two64, lo))).try_cast("decimal(38,0)")
        top = F.upper(F.substring(word, 1, 32))
        return (F.when(top == "0" * 32, pos_val)
                .when(top == "F" * 32, neg_val))
    if abi_type.startswith("bytes"):
        # bytesN is left-aligned in the word: slice exactly N bytes.
        n = abi_type[5:]
        if n.isdigit():
            return F.concat(F.lit("0x"), F.lower(F.substring(word, 1, 2 * int(n))))
        return F.concat(F.lit("0x"), F.lower(word))
    if abi_type == "function":
        # `function` = 24 bytes (20-byte address ++ 4-byte selector),
        # left-aligned exactly like bytes24 (solidity ABI spec;
        # go-ethereum decodes it as a [24]byte value through the same
        # abi.UnpackIntoMap path the reference relies on,
        # `internal/parser/parser.go:74-77`)
        return F.concat(F.lit("0x"), F.lower(F.substring(word, 1, 48)))
    return F.concat(F.lit("0x"), F.lower(word))


def _scalar_cols(word: Column, inp: AbiInput) -> list[Column]:
    """An elementary static param's decoded column from its hex word,
    plus the lossless ``_hex`` twin where it has one."""
    cols = [_decode_word(word, inp.type).alias(inp.name)]
    if _has_hex_twin(inp):
        cols.append(F.concat(F.lit("0x"), F.lower(word))
                    .alias(f"{inp.name}_hex"))
    return cols


# Composite and dynamic decoding works on 1-based BYTE positions into
# the UNHEXED data blob (a BinaryType column staged once per row in
# decode_event). The round-2 decoder addressed the hex STRING by char
# position — but UTF8String.substring walks bytes from position 1 on
# every call (it cannot assume ASCII), so each deep access into a long
# blob cost ~1s per 600k rows and a dynamic-tuple decode makes many.
# Binary substring is O(1) byte addressing: measured 3-4× on the q107
# tuple decode (15.9s → ~4s at sf0.1) and it halves the bytes touched.
# Word reads come back through hex() (uppercase) into the shared
# _decode_word string decoder.


def _word_at(bin_: Column, pos: Column) -> Column:
    """The 32-byte word at byte position ``pos`` as a 64-hex-char
    string (uppercase — _decode_word lowercases where case shows)."""
    return F.hex(F.substring(bin_, pos, F.lit(32)))


def _u64_at(bin_: Column, pos: Column) -> Column:
    """Low-8-bytes integer of the word at byte position ``pos``
    (offsets/lengths beyond 2^63 are not physically possible)."""
    return F.conv(F.hex(F.substring(bin_, pos + 24, F.lit(8))),
                  16, 10).cast("long")


def _tail_pos(bin_: Column, head_slot: int) -> Column:
    """Byte position of a dynamic parameter's tail. The head slot
    (compile-time constant position) holds the byte offset of the
    tail, relative to the data-section start."""
    return (_u64_at(bin_, F.lit(head_slot * 32 + 1)) + 1).cast("int")


def _len_at(bin_: Column, pos: Column) -> Column:
    """Length/count word at byte position ``pos``."""
    return _u64_at(bin_, pos).cast("int")


def _offset_at(bin_: Column, pos: Column) -> Column:
    """Byte-offset word at byte position ``pos``, as a byte delta."""
    return _u64_at(bin_, pos).cast("int")


def _decode_static_at(bin_: Column, pos: Column, inp: AbiInput) -> Column:
    """Decode a STATIC value whose encoding starts at byte position
    ``pos``: static tuple members lie at pos + 32·(cumulative member
    slots), static fixed arrays stride by 32·(element slots) and
    recurse — ``T[k][m]`` is an m-array of ``T[k]`` whose stride is
    the inner array's full width, to any depth, all compile-time
    positions — and scalars go through _decode_word.
    """
    t = inp.type
    m = _ARRAY_RE.match(t)
    if m:  # static fixed array T[k] (possibly nested: T[k][m]...)
        elem = _elem_of(inp)
        stride = 32 * _head_slots(elem)
        return F.array(*[
            _decode_static_at(bin_, pos + i * stride, elem)
            for i in range(int(m.group(2)))])
    if t == "tuple":
        offs = _comp_slot_offsets(inp.components)
        return F.struct(*[
            _decode_static_at(bin_, pos + 32 * s, c).alias(c.name)
            for s, c in zip(offs, inp.components)])
    return _decode_word(_word_at(bin_, pos), t)


def _decode_dyn_at(bin_: Column, pos: Column, inp: AbiInput,
                   staged: dict[int, tuple[Column, Column | None]]
                   | None = None,
                   n: Column | None = None) -> Column:
    """Decode a DYNAMIC value whose tail starts at byte position
    ``pos``: the length word for string/bytes/T[]; the body itself for
    T[k] of dynamic T and for dynamic tuples, which have no length
    word. A length-prefixed tail is ``[len][payload …]`` with the
    payload right-padded to a 32-byte multiple (string/bytes
    left-aligned; array elements at a fixed stride when static, via
    offset words relative to the array body when dynamic). Dynamic
    tuple members resolve through offset words RELATIVE to the tuple
    body — the ABI tuple-encoding rule — and recurse, so tuples and
    arrays nest to any depth. Every payload is an O(1) binary slice.

    ``n``: the staged length/count column of a top-level
    string/bytes/T[] (read inline at ``pos`` when None).
    ``staged``: pre-computed member tail positions and lengths of a
    TOP-LEVEL dynamic tuple. decode_event stages both in their own
    projections (the q95 staging discipline) so each conv chain
    evaluates once, not once per downstream reference; inner nesting
    levels use inline position arithmetic.
    """
    t = inp.type
    if t in ("string", "bytes"):
        payload = F.substring(bin_, pos + 32,
                              _len_at(bin_, pos) if n is None else n)
        if t == "string":
            return F.decode(payload, "UTF-8")
        return F.concat(F.lit("0x"), F.lower(F.hex(payload)))
    m = _ARRAY_RE.match(t)
    if m:
        elem = _elem_of(inp)
        if m.group(2) == "":
            n, body = (_len_at(bin_, pos) if n is None else n), pos + 32
        else:  # fixed array of dynamic elements: no count word
            n, body = F.lit(int(m.group(2))), pos
        idx = (F.when(n > 0, F.sequence(F.lit(0), n - 1))
               .otherwise(F.array().cast("array<int>")))
        if _is_dynamic(elem):
            return F.transform(idx, lambda i: _decode_dyn_at(
                bin_, body + _offset_at(bin_, body + i * 32), elem))
        stride = 32 * _head_slots(elem)
        return F.transform(idx, lambda i: _decode_static_at(
            bin_, body + i * stride, elem))
    # dynamic tuple
    offs = _comp_slot_offsets(inp.components)
    fields = []
    for mi, (s, c) in enumerate(zip(offs, inp.components)):
        if _is_dynamic(c):
            cpos, cn = (staged or {}).get(mi, (None, None))
            if cpos is None:
                cpos = pos + _offset_at(bin_, pos + 32 * s)
            fields.append(_decode_dyn_at(bin_, cpos, c, n=cn).alias(c.name))
        else:
            fields.append(_decode_static_at(bin_, pos + 32 * s, c)
                          .alias(c.name))
    return F.struct(*fields)


def decode_event(raw_logs: DataFrame, event: AbiEvent, *,
                 contract_name: str = "", chain_id: str = "1") -> DataFrame:
    """Decode raw logs of one event type into its typed table.

    Filter on topic0 is pushed to the scan (Catalyst predicate
    pushdown — the distributed analog of the reference's server-side
    `eth_getLogs` topic filter, `internal/indexer/indexer.go:223-235`).
    Enrichment columns (timestamp, tx_from) join in later via the
    blocks/transactions dims (see enrich()).

    Staged projections over the UNHEXED blob:
      P0: the data blob unhexes ONCE into a BinaryType column — every
          later access is an O(1) byte slice (the hex-string form paid
          a UTF8String position walk per access: ~1s per deep access
          per 600k rows);
      P1: per-dynamic-param tail BYTE POSITION from its head slot —
          kept as its own projection by CollapseProject because each
          pos is non-cheap (conv) and referenced twice downstream
          (length word + payload slice);
      P2: per-dynamic-param length/count word at that position, plus
          dynamic-tuple MEMBER tail positions (member offsets are
          tuple-body-relative) and then member lengths;
      P3: scalar decodes — static scalars from their hex words,
          string/bytes payloads via one binary slice;
      P4: array/tuple decodes (HOF transforms + struct assembly) in
          their own projection. A final attribute-only select restores
          the column order.
    An event whose data holds only static scalars reads nothing from
    the blob: its staging selects are empty and Catalyst prunes them
    together with the unused blob column, leaving one projection over
    the hex string.
    """
    indexed = [i for i in event.inputs if i.indexed]
    unindexed = [i for i in event.inputs if not i.indexed]

    df = raw_logs.filter(F.col("topics")[0] == event.topic0)
    out_cols = [
        F.lit(chain_id).alias("chain_id"),
        F.lower(F.col("address")).alias("contract"),
        F.lit(contract_name).alias("contract_name"),
        F.lit(event.name).alias("event_name"),
        F.col("block_number"),
        F.col("tx_hash"),
        F.col("log_index"),
    ]
    order = ["chain_id", "contract", "contract_name", "event_name",
             "block_number", "tx_hash", "log_index"]
    for inp in indexed + unindexed:
        order.append(inp.name)
        if _has_hex_twin(inp):
            order.append(f"{inp.name}_hex")
    for pos, inp in enumerate(indexed):
        topic = F.col("topics")[pos + 1]
        if _is_scalar(inp):
            out_cols += _scalar_cols(F.substring(topic, 3, 64), inp)
        else:
            # indexed dynamic/array/struct params are stored as the
            # keccak hash of the encoded value (go-ethereum common.Hash)
            out_cols.append(F.lower(topic).alias(inp.name))

    data = F.col("data")
    bin_col = "__abi_bin"
    bin_ = F.col(bin_col)
    df = df.select(
        "*", F.unhex(F.substring(data, 3, 1 << 30)).alias(bin_col))
    slots = _comp_slot_offsets(unindexed)
    dyn = [(slot, inp) for slot, inp in zip(slots, unindexed)
           if _is_dynamic(inp)]
    pos_cols = {inp.name: f"__pos_{inp.name}" for _, inp in dyn}
    # length staging skips tuple-typed params: a dynamic tuple has no
    # length word (its tail IS the member layout), tuple arrays read
    # their count inline
    n_cols = {inp.name: f"__n_{inp.name}" for _, inp in dyn
              if not inp.type.startswith("tuple")}
    df = df.select(
        "*", *[_tail_pos(bin_, slot).alias(pos_cols[inp.name])
               for slot, inp in dyn])
    mp_cols: dict[tuple[str, int], str] = {}
    mn_cols: dict[tuple[str, int], str] = {}
    stage_mp = []
    for _, inp in dyn:
        if inp.type != "tuple":
            continue
        p = F.col(pos_cols[inp.name])
        for mi, (s, c) in enumerate(zip(_comp_slot_offsets(inp.components),
                                        inp.components)):
            if _is_dynamic(c):
                mp = f"__mp_{inp.name}_{mi}"
                mp_cols[(inp.name, mi)] = mp
                stage_mp.append(
                    (p + _offset_at(bin_, p + 32 * s)).alias(mp))
                if c.type != "tuple":  # inner tuples have no length word
                    mn_cols[(inp.name, mi)] = f"__mn_{inp.name}_{mi}"
    df = df.select(
        "*",
        *[_len_at(bin_, F.col(pos_cols[name])).alias(n_col)
          for name, n_col in n_cols.items()],
        *stage_mp)
    if mn_cols:
        df = df.select(
            "*", *[_len_at(bin_, F.col(mp_cols[key])).alias(mn)
                   for key, mn in mn_cols.items()])

    scalar_cols, array_cols = [], []
    for slot, inp in zip(slots, unindexed):
        if _is_scalar(inp):
            scalar_cols += _scalar_cols(_word(data, slot), inp)
            continue
        if _is_dynamic(inp):
            staged = {mi: (F.col(mp), F.col(mn_cols[nm, mi])
                           if (nm, mi) in mn_cols else None)
                      for (nm, mi), mp in mp_cols.items() if nm == inp.name}
            n = F.col(n_cols[inp.name]) if inp.name in n_cols else None
            col = _decode_dyn_at(bin_, F.col(pos_cols[inp.name]), inp,
                                 staged=staged, n=n)
        else:  # static tuple / fixed array, inline from its head slots
            col = _decode_static_at(bin_, F.lit(32 * slot + 1), inp)
        (scalar_cols if inp.type in ("string", "bytes")
         else array_cols).append(col.alias(inp.name))

    # Array/tuple decodes run AFTER the scalar projection (P4); by
    # then a decoded param may legitimately be aliased "data" (common
    # name, cf. ERC777 Sent), which is why the binary blob travels
    # under a reserved alias that cannot collide.
    aux = (list(pos_cols.values()) + list(n_cols.values())
           + list(mp_cols.values()) + list(mn_cols.values()))
    keep = ([bin_, *[F.col(c) for c in aux]] if array_cols else [])
    out = df.select(*out_cols, *scalar_cols, *keep)
    if array_cols:
        out = out.select("*", *array_cols).drop(bin_col, *aux)
    return out.select(*order)


def route_events(raw_logs: DataFrame, events: dict[str, AbiEvent]) -> DataFrame:
    """topic0 → event-name resolution (G4): the reference's linear ABI
    scan (`internal/parser/parser.go:164-171`) becomes a literal map
    lookup compiled into the plan (broadcast-sized by construction)."""
    mapping = F.create_map(*[
        x for ev in events.values()
        for x in (F.lit(ev.topic0), F.lit(ev.name))
    ])
    return raw_logs.withColumn("event_name", mapping[F.col("topics")[0]])


def enrich(decoded: DataFrame, blocks: DataFrame | None = None,
           transactions: DataFrame | None = None) -> DataFrame:
    """Broadcast-join enrichment (C1/C2): block→timestamp and
    tx→sender, replacing the reference's per-log memoized RPC lookups
    (`internal/parser/parser.go:119-130,152-159`) with dim joins."""
    out = decoded
    if blocks is not None:
        out = out.join(F.broadcast(blocks.select("block_number", "timestamp")),
                       "block_number", "left")
    if transactions is not None:
        out = out.join(F.broadcast(transactions.select("tx_hash", "tx_from")),
                       "tx_hash", "left")
    return out


_RECOVER_UDF = None


def recover_sender(tx_df: DataFrame, *, hash_col: str = "sig_hash",
                   r_col: str = "r", s_col: str = "s", v_col: str = "v",
                   out_col: str = "tx_from") -> DataFrame:
    """ECDSA sender recovery (G5, `internal/parser/parser.go:152-159`:
    ``types.Sender(signer, tx)``).

    Inputs: the transaction *signing hash* (0x hex) plus the r/s (0x
    hex) and v components; output: the recovered lowercase 0x address
    (NULL for invalid signatures). Pure-Python secp256k1
    (sources/secp256k1.py) inside an Arrow-batched pandas UDF — a few ms/
    row/core, acceptable for live tails and audits. For bulk
    backfills prefer the pre-landed ``transactions(tx_hash, tx_from)``
    dim join (see ``enrich``), which avoids per-row crypto entirely.
    """
    global _RECOVER_UDF
    if _RECOVER_UDF is None:
        @pandas_udf("string")
        def rec(h: pd.Series, r: pd.Series, s: pd.Series,
                v: pd.Series) -> pd.Series:
            from .secp256k1 import recover_address

            def one(hh, rr, ss, vv):
                if hh is None or rr is None or ss is None or vv is None:
                    return None
                try:
                    return recover_address(
                        bytes.fromhex(str(hh).removeprefix("0x")),
                        int(str(rr), 16), int(str(ss), 16), int(vv))
                except (ValueError, AssertionError):
                    return None

            return pd.Series([one(*t) for t in zip(h, r, s, v)])

        _RECOVER_UDF = rec
    return tx_df.withColumn(
        out_col,
        _RECOVER_UDF(F.col(hash_col), F.col(r_col), F.col(s_col),
                     F.col(v_col).cast("long")))
