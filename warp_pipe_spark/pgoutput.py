"""pgoutput decoder — S1 against VANILLA PostgreSQL, no plugin install.

The reference is wal2json-locked (lr_listener.go:92-131 creates its
slot with the wal2json plugin), which means its live tail needs an
out-of-tree .so on every server. `pgoutput` is the logical-decoding
plugin built INTO PostgreSQL (it drives native publication/subscription
replication since PG 10), so a tail speaking it runs against any
logical-WAL-enabled server as shipped. This module parses the pgoutput
binary protocol (protocol version 1, text tuple mode — the public
format documented under "Logical Streaming Replication Protocol" /
protocol.sgml) and re-emits each committed transaction as ONE
wal2json-shaped JSON document, so every byte downstream of the socket —
the drop dir, `decode_wal2json`, the CDC apply — is the EXISTING
production path, unchanged.

Message grammar parsed here (one letter per XLogData payload):
  B begin      final_lsn(8) commit_ts(8) xid(4)
  C commit     flags(1) commit_lsn(8) end_lsn(8) commit_ts(8)
  R relation   oid(4) namespace(cstr) relname(cstr) replident(1)
               ncols(2) [flags(1) name(cstr) type_oid(4) typmod(4)]...
  I insert     reloid(4) 'N' tuple
  U update     reloid(4) ['K'|'O' tuple] 'N' tuple
  D delete     reloid(4) 'K'|'O' tuple
  T truncate   nrel(4) options(1) reloid(4)...     (ONE change of kind
               'truncate' per affected table, wal2json parity)
  Y type / O origin / M message                     (skipped)
  tuple: ncols(2) then per column 'n' (NULL) | 'u' (unchanged TOAST) |
         't' len(4) bytes (text-mode value) |
         'b' len(4) bytes (binary-mode value, PG 14+ `binary 'on'`)

Binary tuple mode (`binary 'on'`, PG 14+): the server sends each cell
in the type's binary wire format instead of its text output — the same
bytes COPY BINARY and the extended-protocol binary result format use.
This decoder converts every 'b' cell BACK to the type's canonical text
output (`_binary_to_text`, keyed by the Relation message's type oid),
so the emitted document is byte-identical to a text-mode tail and
everything downstream — drop dir, decode_wal2json, checksums, the LWW
apply — is agnostic to which mode produced it. Scalar types with a
fixed public wire format are decoded exactly (ints, floats via
shortest-round-trip rendering, numeric's base-10000 digit groups,
bool, bytea, uuid, date/time/timestamp[tz] from their 2000-01-01
epoch); text-ish types pass through. A binary cell of any OTHER type
raises PgOutputProtocolError naming the oid — guessing at an
undocumented byte layout would corrupt values silently, and the fix
(tail without `binary=True`) is one flag. timestamptz is rendered at
UTC ('+00'): binary mode ships the raw UTC instant, so unlike text
mode the output does not depend on the walsender's TimeZone GUC —
equal to text mode exactly when the walsender session runs at UTC
(the live suite pins this).

Unchanged-TOAST cells ('u'): the server does not re-send a TOASTed
value an UPDATE didn't touch. Those columns are OMITTED from
columnnames/columntypes/columnvalues — exactly what wal2json does —
because emitting them as NULL would be indistinguishable from a real
NULL and the downstream LWW replay/MERGE would overwrite the stored
value with NULL (silent corruption). Downstream, an absent column
means "unchanged", which apply.merge semantics already honor (absent
columns keep the target row's value).

oldkeys: for a 'K' tuple (REPLICA IDENTITY DEFAULT/USING INDEX) the
key columns are identified by the Relation message's per-column key
flags — NOT by which cells happen to be non-NULL, so a genuinely-NULL
key cell survives. For an 'O' tuple (REPLICA IDENTITY FULL) ALL
columns are included, NULLs included, matching wal2json's
identity-full output (unchanged-TOAST old cells, which only FULL can
carry, are omitted like on the new side).

Protocol version: proto_version 1 by default, with OPT-IN proto 2
(streamed in-progress transactions, PG 14+ `streaming=on`):

  S stream-start  xid(4) first_segment(1)   opens a block for xid
  E stream-stop                             closes the open block
  c stream-commit xid(4) flags(1) commit_lsn(8) end_lsn(8) ts(8)
  A stream-abort  xid(4) subxid(4)
  Content messages (R/I/U/D/T/Y/M) INSIDE a block carry a leading
  Int32 xid of their immediate (sub)transaction — protocol.sgml,
  "only present for streamed transactions ... since protocol
  version 2" — which is what makes Stream Abort implementable:
  changes are buffered per top-level xid TAGGED with their own xid,
  and an abort drops exactly the subxid's tags (all of them when
  subxid == xid). Stream-commit emits the buffered changes as one
  wal2json-shaped document, same as a v1 Commit. A first_segment
  block for an already-buffered xid resets the buffer (the server
  retransmits the whole transaction after a reconnect).

  LWW safety under interleaving: two concurrently-streamed
  transactions' change ids (WAL positions) interleave, and commit
  order may differ from WAL order ACROSS transactions — but not per
  key: row locks serialize writers of the same row, so the second
  writer's WAL position is necessarily after the first writer's
  COMMIT. Per (table, pk) the id order the downstream fold keys on is
  commit-consistent.

Opt-in proto 3 (PG 15+, a TWO_PHASE slot) adds prepared-transaction
decoding:

  b begin-prepare  prepare_lsn(8) end_lsn(8) ts(8) xid(4) gid(cstr)
  P prepare        flags(1) + the same fields
  K commit-prepared  flags(1) commit_lsn(8) end_lsn(8) ts(8) xid(4) gid
  r rollback-prepared  flags(1) 2×lsn(8) 2×ts(8) xid(4) gid
  p stream-prepare  flags(1) prepare_lsn(8) end_lsn(8) ts(8) xid(4) gid
  Changes arrive between begin-prepare and prepare (or in S/E blocks
  closed by stream-prepare), are HELD under their gid, and emit as one
  document only at commit-prepared — the drop dir still sees
  committed transactions only; rollback-prepared discards.

Under the default proto_version=1 the higher-version frame types raise
PgOutputProtocolError — a misnegotiated stream fails loudly instead
of corrupting the tail. Any unknown message type raises under every
version.

Identity & ordering: each change carries `id` = the WAL byte position
(XLogData.wal_start) of its own message — unique, monotone in commit
order, and stable across redelivery/replay, which is exactly the
contract the downstream LWW fold (apply.replay) keys on. (A multi-
table TRUNCATE fans out to consecutive ids wal_start+0..n-1; its wire
message is 6+4n bytes long, so those ids stay below the next
message's wal_start.) The document carries `nextlsn` = the commit's
end_lsn, same as wal2json.

Values are raw text strings end-to-end (the repo's checksum-fidelity
rule, SURVEY §1.3); type oids are rendered as Postgres type names for
the common scalar types and `oid:N` otherwise — names inform, values
carry the data.
"""

from __future__ import annotations

import json
import struct

from warp_pipe_spark.lr_client import XLogData, _tail_drop_dir, lsn_str

#: common scalar type oids (pg_type.dat, public catalog numbers)
PG_TYPE_NAMES = {
    16: "boolean",
    17: "bytea",
    20: "bigint",
    21: "smallint",
    23: "integer",
    25: "text",
    114: "json",
    700: "real",
    701: "double precision",
    1042: "character",
    1043: "character varying",
    1082: "date",
    1083: "time without time zone",
    1114: "timestamp without time zone",
    1184: "timestamp with time zone",
    1700: "numeric",
    2950: "uuid",
    3802: "jsonb",
}

#: pgoutput message types that exist only under proto_version >= 2
#: (streaming of in-progress transactions, PG 14+). We never request
#: v2 by default, so seeing one means the negotiation was violated.
_V2_STREAM_TYPES = {b"S": "stream-start", b"E": "stream-stop",
                    b"c": "stream-commit", b"A": "stream-abort"}

#: proto_version >= 3 (PG 15+, two_phase slots): prepared-transaction
#: decoding. Changes arrive between begin-prepare and prepare like a
#: normal transaction, but are EMITTED only at commit-prepared —
#: possibly much later, interleaved with other transactions — and
#: discarded at rollback-prepared.
_V3_TWOPHASE_TYPES = {b"b": "begin-prepare", b"P": "prepare",
                      b"K": "commit-prepared", b"r": "rollback-prepared",
                      b"p": "stream-prepare"}


class PgOutputProtocolError(ValueError):
    """The stream delivered a frame this proto_version-1 decoder cannot
    interpret — misnegotiated version or corrupt stream. Fail loudly;
    guessing would corrupt the tail."""


def _type_name(oid: int) -> str:
    return PG_TYPE_NAMES.get(oid, f"oid:{oid}")


#: 2000-01-01, the epoch of PG's date (days, int4) and timestamp[tz]
#: (microseconds, int8) binary formats
_PG_EPOCH_ORDINAL = 730120  # datetime.date(2000, 1, 1).toordinal()


def _shortest_digits(s: str) -> tuple[str, int]:
    """Parse a shortest-round-trip rendering (fixed '123.45' or
    scientific '1.5e-05') into (significant digits, decimal exponent of
    the FIRST digit) — the d.ddd×10^exp normal form both PG's Ryu and
    Python's repr agree on; only the surface formatting differs."""
    if "e" in s or "E" in s:
        mant, _, exp = s.replace("E", "e").partition("e")
        digs = mant.replace(".", "").rstrip("0") or "0"
        return digs, int(exp)
    ip, _, fp = s.partition(".")
    digs = ip + fp
    exp = len(ip) - 1
    lead = len(digs) - len(digs.lstrip("0"))
    digs = digs.lstrip("0")
    exp -= lead
    digs = digs.rstrip("0") or "0"
    return digs, (0 if digs == "0" else exp)


def _in_open_interval(cand, v: float, single: bool) -> bool:
    """Is the Decimal `cand` STRICTLY inside the information interval
    of the float whose exact value is `v` — above the midpoint to the
    next-smaller float and below the midpoint to the next-larger?
    PG's Ryu port rejects the bounds unconditionally (it refuses to
    print a value sitting exactly on a halfway point, defending
    against readers whose rounding isn't half-even), so ties are NOT
    accepted here even when the mantissa is even. Verified live:
    '2.571102e8'::float4 parses back exactly, yet float4out prints
    2.5711021e+08. Exact rational arithmetic — no doubles in the
    decision."""
    import math
    from fractions import Fraction

    import numpy as np

    c = Fraction(cand)
    target = Fraction(v)
    ftype = np.float32 if single else np.float64
    # nextafter past ±FLT_MAX overflows to ±inf BY DESIGN (the isinf
    # branches below are that case's handling); silence numpy's
    # RuntimeWarning so the suite output stays clean
    with np.errstate(over="ignore"):
        lo = float(np.nextafter(ftype(v), ftype(float("-inf"))))
        hi = float(np.nextafter(ftype(v), ftype(float("inf"))))
    above_lo = math.isinf(lo) or c > (Fraction(lo) + target) / 2
    below_hi = math.isinf(hi) or c < (target + Fraction(hi)) / 2
    return above_lo and below_hi


def _float_shortest_digits(av: float, single: bool) -> tuple[str, int]:
    """Shortest decimal digits uniquely identifying the float with
    exact value `av` (>0) under PG's open-interval rule. For float4,
    numpy's dragon4 is doubly unusable — it validates round-trips
    through double-then-narrow (double-rounding across float32
    midpoints) AND accepts even-mantissa ties PG rejects: live fuzz
    found 257110200 (an exact float32 midpoint, ulp 16) where numpy
    emits 7 digits but the server prints 8. Python's repr has the
    same tie-acceptance mismatch for float8 in principle, so both
    widths go through the exact search: for each length try the
    half-even rounding and its unit-in-last-place neighbors (Ryu's
    closest-in-interval choice), accepting the first strictly inside
    the interval."""
    from decimal import ROUND_HALF_EVEN, Decimal, localcontext

    if av == 0.0:
        return "0", 0
    d = Decimal(av)  # exact decimal expansion of the binary value
    for ndig in range(1, 10 if single else 18):
        with localcontext() as cx:
            cx.prec = ndig
            cx.rounding = ROUND_HALF_EVEN
            base = +d
        delta = Decimal(1).scaleb(base.adjusted() - ndig + 1)
        for cand in (base, base - delta, base + delta):
            if cand > 0 and _in_open_interval(cand, av, single):
                digs = "".join(map(str, cand.as_tuple()[1])).rstrip(
                    "0"
                ) or "0"
                return digs, cand.adjusted()
    raise AssertionError(
        "unreachable: shortest search exhausted 9/17 digits"
    )


def _pg_float_text(v: float, single: bool = False) -> str:
    """Render a float the way float4out/float8out do (PG 12+ defaults,
    extra_float_digits=1): shortest round-trip digits (Ryu), with
    printf-%g notation thresholds — fixed for decimal exponents in
    [-4, 15) for float8 / [-4, 6) for float4 (no trailing '.0'),
    'd.ddde[+-]XX' (two-digit minimum exponent) otherwise. Calibrated
    against live PG 15: 1e14 -> '100000000000000' but 1e15 -> '1e+15';
    123456::real -> '123456' but 1234567::real -> '1.234567e+06'.
    Python repr / numpy float32 rendering supply the same shortest
    digits; this reshapes them to PG's surface form. Pinned
    byte-identical to a live text-mode tail in tests/test_live_pg.py."""
    import math

    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    neg = math.copysign(1.0, v) < 0
    if single:
        digs, exp = _float_shortest_digits(abs(v), single=True)
    else:
        # fast path: repr is shortest-correct for float8 except when
        # its choice sits exactly ON a midpoint (repr accepts
        # even-mantissa ties, PG's open-interval rule does not) —
        # verify once, fall back to the exact search only then
        digs, exp = _shortest_digits(repr(abs(v)))
        from decimal import Decimal

        cand = Decimal(digs).scaleb(exp - (len(digs) - 1))
        if not _in_open_interval(cand, abs(v), single=False):
            digs, exp = _float_shortest_digits(abs(v), single=False)
    if -4 <= exp < (6 if single else 15):
        if exp >= len(digs) - 1:
            body = digs + "0" * (exp - len(digs) + 1)
        elif exp >= 0:
            body = digs[: exp + 1] + "." + digs[exp + 1 :]
        else:
            body = "0." + "0" * (-exp - 1) + digs
    else:
        body = digs[0] + ("." + digs[1:] if len(digs) > 1 else "")
        body += f"e{exp:+03d}"
    return ("-" if neg else "") + body


def _pg_numeric_text(data: bytes) -> str:
    """numeric binary format → canonical text: ndigits(2) weight(2)
    sign(2) dscale(2), then ndigits base-10000 groups (int16 each).
    weight = number of base-10000 groups before the decimal point,
    minus one; dscale = decimal digits after the point in the text
    form. Mirrors numeric.c's get_str_from_var exactly."""
    ndigits, weight, sign, dscale = struct.unpack_from("!hhHH", data)
    if sign == 0xC000:
        return "NaN"
    if sign == 0xD000:
        return "Infinity"
    if sign == 0xF000:
        return "-Infinity"
    groups = struct.unpack_from(f"!{ndigits}H", data, 8)
    out = "-" if sign == 0x4000 else ""
    if weight >= 0:
        parts = []
        for i in range(weight + 1):
            g = groups[i] if i < ndigits else 0
            parts.append(str(g) if i == 0 else f"{g:04d}")
        out += "".join(parts)
    else:
        out += "0"
    if dscale > 0:
        frac = []
        for j in range(dscale // 4 + 1):
            idx = weight + 1 + j
            g = groups[idx] if 0 <= idx < ndigits else 0
            frac.append(f"{g:04d}")
        out += "." + "".join(frac)[:dscale]
    return out


def _pg_time_of_day(us: int) -> str:
    """HH:MM:SS with the fractional part trimmed of trailing zeros
    (PG's EncodeTimeOnly/AppendSeconds behavior)."""
    s, frac = divmod(us, 1_000_000)
    h, rem = divmod(s, 3600)
    m, sec = divmod(rem, 60)
    out = f"{h:02d}:{m:02d}:{sec:02d}"
    if frac:
        out += (".%06d" % frac).rstrip("0")
    return out


def _pg_date_text(days: int) -> str:
    import datetime as _dt

    if days == 0x7FFFFFFF:
        return "infinity"
    if days == -0x80000000:
        return "-infinity"
    try:
        return _dt.date.fromordinal(_PG_EPOCH_ORDINAL + days).isoformat()
    except (ValueError, OverflowError):
        # PG dates span 4713 BC..5874897 AD; Python's stop at year
        # 9999. Rendering one of those wrong would corrupt the tail —
        # name the gap instead.
        raise PgOutputProtocolError(
            f"binary-mode date/timestamp {days} days from 2000-01-01 "
            "is outside Python's year range (1..9999) — this renderer "
            "cannot produce PG's text form for it; tail without "
            "binary=True for this table"
        )


def _pg_timestamp_text(us: int, tz_suffix: str = "") -> str:
    if us == 0x7FFFFFFFFFFFFFFF:
        return "infinity"
    if us == -0x8000000000000000:
        return "-infinity"
    days, us_of_day = divmod(us, 86_400_000_000)
    return (
        _pg_date_text(days) + " " + _pg_time_of_day(us_of_day) + tz_suffix
    )


def _int_cell(data: bytes) -> str:
    return str(int.from_bytes(data, "big", signed=True))


def _jsonb_text(data: bytes) -> str:
    if not data or data[0] != 1:
        # jsonb_send prefixes its (currently only) wire version; a
        # different byte means a format we cannot strip blindly
        raise PgOutputProtocolError(
            f"jsonb binary version {data[0] if data else '<empty>'} "
            "is not the known version 1 — refusing to strip an "
            "unknown header"
        )
    return data[1:].decode()


#: oid → binary-wire-format-to-canonical-text decoder. Each mirrors the
#: type's <type>send/<type>out pair in the public PG source; the live
#: suite pins binary-mode output byte-identical to a text-mode tail.
_BINARY_DECODERS = {
    16: lambda d: "t" if d[0] else "f",
    17: lambda d: "\\x" + d.hex(),
    18: lambda d: d.decode(),  # "char"
    19: lambda d: d.decode(),  # name
    20: _int_cell,
    21: _int_cell,
    23: _int_cell,
    26: lambda d: str(int.from_bytes(d, "big", signed=False)),  # oid
    25: lambda d: d.decode(),
    114: lambda d: d.decode(),  # json: binary form IS the text
    700: lambda d: _pg_float_text(struct.unpack("!f", d)[0], single=True),
    701: lambda d: _pg_float_text(struct.unpack("!d", d)[0]),
    1042: lambda d: d.decode(),  # bpchar (space padding is in-band)
    1043: lambda d: d.decode(),
    1082: lambda d: _pg_date_text(struct.unpack("!i", d)[0]),
    1083: lambda d: _pg_time_of_day(struct.unpack("!q", d)[0]),
    1114: lambda d: _pg_timestamp_text(struct.unpack("!q", d)[0]),
    1184: lambda d: _pg_timestamp_text(struct.unpack("!q", d)[0], "+00"),
    1700: _pg_numeric_text,
    # jsonb: version byte (1) then the canonical jsonb text form
    3802: lambda d: _jsonb_text(d),
    2950: lambda d: "-".join(
        (d.hex()[:8], d.hex()[8:12], d.hex()[12:16], d.hex()[16:20],
         d.hex()[20:])
    ),
}


#: array type oid → element type oid, for the scalar types above
#: (pg_type.dat typarray links)
_ARRAY_ELEM_OID = {
    1000: 16, 1001: 17, 1002: 18, 1003: 19, 1016: 20, 1005: 21,
    1007: 23, 1028: 26, 1009: 25, 199: 114, 1021: 700, 1022: 701,
    1014: 1042, 1015: 1043, 1182: 1082, 1183: 1083, 1115: 1114,
    1185: 1184, 1231: 1700, 2951: 2950, 3807: 3802,
}


def _array_elem_text(s: str) -> str:
    """Quote one array element the way array_out does: quotes are
    needed for the empty string, anything containing braces, the
    delimiter, quote/backslash, whitespace, or the literal word NULL
    (else it would read back as a NULL element)."""
    if s == "" or s.upper() == "NULL" or any(
        c in '{},"\\' or c.isspace() for c in s
    ):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def _pg_array_text(data: bytes, elem_oid: int) -> str:
    """Array binary wire format → array_out text: ndim(4) hasnull(4)
    elemtype(4), per-dim [len(4) lbound(4)], then row-major elements
    as len(4)+bytes (-1 = NULL). Elements render through their own
    binary decoder, then array quoting. Non-default lower bounds emit
    the '[lb:ub]=' dims prefix, multi-dim arrays nest braces — both
    exactly as array_out."""
    ndim, _hasnull, wire_elem = struct.unpack_from("!iii", data)
    if ndim == 0:
        return "{}"
    off = 12
    dims = []
    for _ in range(ndim):
        dlen, lb = struct.unpack_from("!ii", data, off)
        dims.append((dlen, lb))
        off += 8
    vals: list[str | None] = []
    for _ in range(_prod(d for d, _ in dims)):
        (ln,) = struct.unpack_from("!i", data, off)
        off += 4
        if ln == -1:
            vals.append(None)
        else:
            vals.append(_binary_to_text(wire_elem or elem_oid,
                                        data[off : off + ln]))
            off += ln

    def _render(dim_idx: int, flat: list) -> str:
        if dim_idx == ndim - 1:
            return "{" + ",".join(
                "NULL" if v is None else _array_elem_text(v) for v in flat
            ) + "}"
        # split into dims[dim_idx] equal chunks of the remaining shape
        chunk = len(flat) // dims[dim_idx][0]
        return "{" + ",".join(
            _render(dim_idx + 1, flat[i * chunk : (i + 1) * chunk])
            for i in range(dims[dim_idx][0])
        ) + "}"

    body = _render(0, vals)
    if any(lb != 1 for _, lb in dims):
        prefix = "".join(
            f"[{lb}:{lb + dlen - 1}]" for dlen, lb in dims
        )
        return prefix + "=" + body
    return body


def _prod(it) -> int:
    n = 1
    for x in it:
        n *= x
    return n


def _binary_to_text(type_oid: int, data: bytes) -> str:
    dec = _BINARY_DECODERS.get(type_oid)
    if dec is not None:
        return dec(data)
    elem = _ARRAY_ELEM_OID.get(type_oid)
    if elem is not None:
        return _pg_array_text(data, elem)
    raise PgOutputProtocolError(
        f"binary-mode cell of type oid {type_oid} "
        f"({_type_name(type_oid)}) has no binary decoder — tail "
        "without binary=True for this table, or extend "
        "_BINARY_DECODERS with the type's documented wire format"
    )


def _cell_text(v: str | bytes | None, type_oid: int) -> str | None:
    """A tuple cell as canonical text: text-mode cells and NULLs pass
    through; binary-mode cells decode via the column's type oid."""
    if isinstance(v, bytes):
        return _binary_to_text(type_oid, v)
    return v


def _cstr(b: bytes, off: int) -> tuple[str, int]:
    end = b.index(b"\x00", off)
    return b[off:end].decode(), end + 1


def _tuple_data(
    b: bytes, off: int
) -> tuple[list[str | bytes | None], list[int], int]:
    """TupleData → (values, unchanged-toast column indexes, new offset).
    Text cells ('t') decode to str; binary cells ('b', sent when the
    tail requested `binary 'on'`) stay as raw bytes here — the caller
    converts them to canonical text via the column's type oid from the
    Relation message (which _tuple_data does not see)."""
    (ncols,) = struct.unpack_from("!h", b, off)
    off += 2
    vals: list[str | bytes | None] = []
    toast: list[int] = []
    for i in range(ncols):
        kind = b[off : off + 1]
        off += 1
        if kind == b"n":
            vals.append(None)
        elif kind == b"u":
            vals.append(None)
            toast.append(i)
        elif kind in (b"t", b"b"):
            (ln,) = struct.unpack_from("!i", b, off)
            off += 4
            raw = b[off : off + ln]
            vals.append(raw.decode() if kind == b"t" else raw)
            off += ln
        else:
            raise ValueError(
                f"unsupported TupleData cell kind {kind!r} — not in the "
                "documented grammar (n/u/t/b)"
            )
    return vals, toast, off


class PgOutputAssembler:
    """Feed pgoutput XLogData payloads in stream order; collect one
    wal2json-shaped dict per COMMITTED transaction from `docs` (or pop
    them with `take_docs()` — the long-running tail does, keeping its
    memory O(uncommitted), never O(stream)). `feed` returns the number
    of CHANGES the payload contributed (1 per I/U/D, one per table for
    T, 0 for assembly/metadata messages), so callers count work without
    re-scanning buffered documents.

    Relation registry semantics follow the protocol: the server sends
    an R message for a table before its first change in a decoding
    session (and again after schema changes), so a change referencing
    an unknown oid is a protocol violation and raises rather than
    guessing. State is one (names, types, key-flags) list per STREAMED
    table — O(tables), never O(rows) — plus, under proto 2, the
    buffered changes of in-progress streamed transactions (O(open
    streamed transactions); the server only streams transactions that
    exceeded its logical_decoding_work_mem, and a commit/abort
    releases the buffer)."""

    def __init__(self, proto_version: int = 1) -> None:
        if proto_version not in (1, 2, 3):
            raise ValueError(
                f"proto_version must be 1, 2 or 3, got {proto_version}"
            )
        self.proto_version = proto_version
        self._rels: dict[int, dict] = {}
        self._pending: list[dict] = []
        self._in_tx = False
        #: proto 2: top-level xid → [(message xid, change)] for
        #: in-progress streamed transactions
        self._streamed: dict[int, list[tuple[int, dict]]] = {}
        self._cur_stream: int | None = None
        #: proto 3: gid → prepared-but-undecided changes, held until
        #: commit-prepared (emit) or rollback-prepared (discard)
        self._prepared: dict[str, list[dict]] = {}
        #: gid of the transaction currently between begin-prepare and
        #: prepare (non-streamed two-phase path)
        self._preparing: str | None = None
        #: gid → the WAL position of the prepared transaction's FIRST
        #: frame: the confirm floor (see confirm_floor) — confirming at
        #: or past it would stop the server redelivering the prepared
        #: transaction after a restart, stranding its eventual
        #: commit-prepared with no buffered changes
        self._prepared_starts: dict[str, int] = {}
        self._preparing_start: int | None = None
        self.docs: list[dict] = []

    # -- per-message ------------------------------------------------------

    def feed(self, wal_start: int, payload: bytes) -> int:
        kind = payload[:1]
        if kind in _V2_STREAM_TYPES:
            if self.proto_version < 2:
                raise PgOutputProtocolError(
                    f"pgoutput protocol v2+ message "
                    f"'{_V2_STREAM_TYPES[kind]}' ({kind!r}) on a stream "
                    "negotiated at proto_version 1 — refusing to guess "
                    "at streamed-transaction framing"
                )
            return self._feed_stream_ctl(kind, payload)
        if kind in _V3_TWOPHASE_TYPES:
            if self.proto_version < 3:
                raise PgOutputProtocolError(
                    f"pgoutput protocol v3+ two-phase message "
                    f"'{_V3_TWOPHASE_TYPES[kind]}' ({kind!r}) on a "
                    f"stream negotiated at proto_version "
                    f"{self.proto_version} — prepared-transaction "
                    "framing was not requested"
                )
            return self._feed_twophase_ctl(kind, wal_start, payload)
        # content messages inside a streamed block carry a leading
        # Int32 (sub)transaction xid (proto 2); shift the body past it
        base, msg_xid = 1, None
        if self._cur_stream is not None:
            if kind in (b"B", b"C"):
                raise PgOutputProtocolError(
                    f"pgoutput {kind!r} inside a streamed block"
                )
            (msg_xid,) = struct.unpack_from("!i", payload, 1)
            base = 5
        if kind == b"R":
            oid, ns, rel, cols = self._parse_relation(payload, base)
            self._rels[oid] = {"schema": ns, "table": rel, "cols": cols}
        elif kind == b"B":
            if self._in_tx:
                raise PgOutputProtocolError(
                    "pgoutput Begin inside an open transaction"
                )
            self._pending = []
            self._in_tx = True
        elif kind == b"C":
            if not self._in_tx:
                raise PgOutputProtocolError(
                    "pgoutput Commit outside a BEGIN — corrupt or "
                    "misordered stream"
                )
            _, _, end_lsn, _ = struct.unpack_from("!Bqqq", payload, 1)
            # empty transactions (commits touching only non-published
            # tables) emit NO document — one fsynced drop-dir file per
            # empty commit would be file spam on any busy shared server;
            # the tail still advances/confirms the LSN from the frame
            if self._pending:
                self.docs.append(
                    {"change": self._pending, "nextlsn": lsn_str(end_lsn)}
                )
            self._pending, self._in_tx = [], False
        elif kind in (b"I", b"U", b"D", b"T", b"M"):
            if kind == b"M" and payload[base] == 0:
                # NON-transactional logical-decoding message
                # (pg_logical_emit_message(false, ...)), identified by
                # its flags byte: it belongs to NO transaction — the
                # server emits it at its WAL position, possibly amid
                # another transaction's delivery — so it becomes its
                # own single-change document immediately, never folded
                # into the surrounding Begin/Commit or stream block
                changes = self._parse_change(kind, wal_start, payload, base)
                self.docs.append(
                    {"change": changes, "nextlsn": lsn_str(wal_start)}
                )
                return len(changes)
            if self._cur_stream is not None:
                changes = self._parse_change(kind, wal_start, payload, base)
                self._streamed[self._cur_stream].extend(
                    (msg_xid, c) for c in changes
                )
                return len(changes)
            if not self._in_tx:
                raise ValueError(
                    f"pgoutput {kind!r} message outside a BEGIN/COMMIT"
                )
            changes = self._parse_change(kind, wal_start, payload, base)
            self._pending.extend(changes)
            return len(changes)
        elif kind not in (b"Y", b"O"):
            # 'Y' type / 'O' origin are metadata we skip; anything else
            # is not in the grammar at all
            raise PgOutputProtocolError(
                f"unknown pgoutput message type {kind!r}"
            )
        return 0

    def _feed_stream_ctl(self, kind: bytes, payload: bytes) -> int:
        """Stream Start/Stop/Commit/Abort (proto 2).

        Returns a NEGATIVE delta when buffered changes are discarded
        (abort, retransmit reset): feed()'s contract is "changes this
        payload contributed to eventual output", and a caller's
        running sum must not count changes that will never be written
        — a bounded drain would otherwise stop early having written
        fewer (possibly zero) changes than asked for."""
        if kind == b"S":
            xid, first_segment = struct.unpack_from("!iB", payload, 1)
            if self._cur_stream is not None:
                raise PgOutputProtocolError(
                    "nested pgoutput stream-start blocks"
                )
            dropped = 0
            if first_segment:
                # a first_segment for an already-buffered xid is the
                # server RETRANSMITTING the transaction after a
                # reconnect — the buffer resets, exactly like the
                # apply worker truncating its spool file (the changes
                # re-arrive and re-count, so the reset un-counts them)
                dropped = len(self._streamed.get(xid, ()))
                self._streamed[xid] = []
            elif xid not in self._streamed:
                raise PgOutputProtocolError(
                    f"stream continuation for unknown xid {xid} — "
                    "stream resumed past its first segment"
                )
            self._cur_stream = xid
            return -dropped
        elif kind == b"E":
            if self._cur_stream is None:
                raise PgOutputProtocolError(
                    "pgoutput stream-stop without an open block"
                )
            self._cur_stream = None
        elif kind == b"A":
            xid, subxid = struct.unpack_from("!ii", payload, 1)
            if self._cur_stream is not None:
                raise PgOutputProtocolError(
                    "pgoutput stream-abort inside an open block"
                )
            if subxid == xid:
                # whole transaction gone — nothing of it will be written
                return -len(self._streamed.pop(xid, ()))
            if xid in self._streamed:
                # drop exactly the aborted subtransaction's changes —
                # identified by the per-message xid tag
                kept = [
                    (mx, c) for mx, c in self._streamed[xid] if mx != subxid
                ]
                dropped = len(self._streamed[xid]) - len(kept)
                self._streamed[xid] = kept
                return -dropped
        else:  # b"c" stream-commit
            if self._cur_stream is not None:
                raise PgOutputProtocolError(
                    "pgoutput stream-commit inside an open block"
                )
            xid, _, _, end_lsn, _ = struct.unpack_from("!iBqqq", payload, 1)
            buf = self._streamed.pop(xid, None)
            if buf is None:
                raise PgOutputProtocolError(
                    f"stream-commit for unknown xid {xid}"
                )
            if buf:
                self.docs.append(
                    {
                        "change": [c for _, c in buf],
                        "nextlsn": lsn_str(end_lsn),
                    }
                )
        return 0

    def _feed_twophase_ctl(
        self, kind: bytes, wal_start: int, payload: bytes
    ) -> int:
        """Begin-Prepare / Prepare / Commit-Prepared / Rollback-Prepared
        / Stream-Prepare (proto 3, two_phase slots, PG 15+). Layouts
        per protocol.sgml: 'b' = prepare_lsn(8) end_lsn(8) ts(8) xid(4)
        gid(cstr); 'P'/'p' = flags(1) + the same; 'K' = flags(1)
        commit_lsn(8) end_lsn(8) ts(8) xid(4) gid; 'r' = flags(1)
        prepare_end_lsn(8) rollback_end_lsn(8) prepare_ts(8)
        rollback_ts(8) xid(4) gid.

        A prepared transaction's changes are held under their gid and
        emitted as ONE document only at commit-prepared — the same
        committed-transactions-only drop-dir contract as every other
        path; rollback-prepared discards (negative feed delta, like
        stream aborts). State is O(open prepared transactions), which
        the server itself bounds via max_prepared_transactions."""
        if self._cur_stream is not None:
            # every two-phase control frame is delivered OUTSIDE
            # stream blocks; one inside would desynchronize the
            # buffers — fail loudly
            raise PgOutputProtocolError(
                f"pgoutput two-phase frame "
                f"'{_V3_TWOPHASE_TYPES[kind]}' inside an open "
                "stream block"
            )
        if kind == b"b":
            if self._in_tx:
                raise PgOutputProtocolError(
                    "pgoutput begin-prepare inside an open transaction"
                )
            gid, _ = _cstr(payload, 29)
            self._pending = []
            self._in_tx = True
            self._preparing = gid
            self._preparing_start = wal_start
        elif kind == b"P":
            if not self._in_tx or self._preparing is None:
                raise PgOutputProtocolError(
                    "pgoutput prepare without a begin-prepare"
                )
            gid, _ = _cstr(payload, 30)
            if gid != self._preparing:
                raise PgOutputProtocolError(
                    f"prepare gid {gid!r} does not match begin-prepare "
                    f"gid {self._preparing!r}"
                )
            self._prepared[gid] = self._pending
            self._prepared_starts[gid] = (
                self._preparing_start
                if self._preparing_start is not None
                else wal_start
            )
            self._pending, self._in_tx, self._preparing = [], False, None
            self._preparing_start = None
        elif kind == b"p":
            # stream-prepare: a STREAMED transaction became prepared —
            # its buffered blocks move from xid-keyed to gid-keyed
            # state. Layout: flags(1) prepare_lsn(8) end_lsn(8) ts(8)
            # then the xid at offset 26, gid at 30.
            (xid,) = struct.unpack_from("!i", payload, 26)
            gid, _ = _cstr(payload, 30)
            buf = self._streamed.pop(xid, None)
            if buf is None:
                raise PgOutputProtocolError(
                    f"stream-prepare for unknown xid {xid}"
                )
            self._prepared[gid] = [c for _, c in buf]
            # floor = the streamed transaction's FIRST buffered change
            # position (its redelivery replays from there); an empty
            # buffer falls back to this frame's own position
            self._prepared_starts[gid] = (
                buf[0][1]["id"] if buf else wal_start
            )
        elif kind == b"K":
            _, _, end_lsn, _, _ = struct.unpack_from("!Bqqqi", payload, 1)
            gid, _ = _cstr(payload, 30)
            buf = self._prepared.pop(gid, None)
            self._prepared_starts.pop(gid, None)
            if buf is None:
                raise PgOutputProtocolError(
                    f"commit-prepared for unknown gid {gid!r} — the "
                    "transaction was prepared before this stream's "
                    "start position (replay it from an earlier LSN)"
                )
            if buf:
                self.docs.append(
                    {"change": buf, "nextlsn": lsn_str(end_lsn)}
                )
        else:  # b"r" rollback-prepared
            gid, _ = _cstr(payload, 38)
            # unknown gid is legal here: ROLLBACK PREPARED of a
            # transaction prepared before our start position delivers
            # only the rollback — nothing buffered, nothing to do
            self._prepared_starts.pop(gid, None)
            return -len(self._prepared.pop(gid, ()))
        return 0

    def confirm_floor(self) -> int | None:
        """Highest WAL position safe to CONFIRM to the server, or None
        for no constraint: while a prepared transaction is UNDECIDED,
        the confirmed-flush LSN must stay below its first frame —
        otherwise a restart never redelivers the prepared changes and
        the eventual commit-prepared arrives with nothing buffered
        (the 'unknown gid' error, then a manual earlier-LSN replay).
        The tail caps every standby-status flush LSN with this."""
        starts = self._prepared_starts.values()
        if self._preparing_start is not None:
            starts = list(starts) + [self._preparing_start]
        return min(starts) if starts else None

    def at_tx_boundary(self) -> bool:
        """True when no transaction is open: none between begin and
        commit, no streamed block or buffered streamed transaction
        (proto 2), no undecided prepared one (proto 3). A bounded
        drain stops only here, so it never tears a transaction."""
        return not (
            self._in_tx or self._cur_stream is not None
            or self._streamed or self._prepared
        )

    def undelivered_count(self) -> int:
        """Changes feed() counted that are still BUFFERED — an open
        transaction's pending list, open streamed transactions,
        undecided prepared transactions. A tail exiting on idle
        timeout subtracts this from its running feed() sum so its
        return value honors the 'changes WRITTEN' contract: buffered
        changes were never flushed to a document (and on restart the
        un-confirmed server redelivers them, so counting them now
        would double-count across the restart)."""
        return (
            len(self._pending)
            + sum(len(v) for v in self._streamed.values())
            + sum(len(v) for v in self._prepared.values())
        )

    def take_docs(self) -> list[dict]:
        """Pop and return all committed documents. The streaming tail
        calls this at each flush so the assembler never accumulates
        O(stream) state."""
        out, self.docs = self.docs, []
        return out

    def _parse_relation(self, b: bytes, base: int = 1):
        (oid,) = struct.unpack_from("!i", b, base)
        off = base + 4
        ns, off = _cstr(b, off)
        rel, off = _cstr(b, off)
        off += 1  # replica identity
        (ncols,) = struct.unpack_from("!h", b, off)
        off += 2
        cols = []
        for _ in range(ncols):
            flags = b[off]  # bit 1 = column is part of the replica key
            off += 1
            name, off = _cstr(b, off)
            type_oid, _typmod = struct.unpack_from("!ii", b, off)
            off += 8
            # (name, type name, is-replica-key, raw type oid) — the oid
            # drives binary-mode cell decoding (_binary_to_text)
            cols.append((name, _type_name(type_oid), bool(flags & 1),
                         type_oid))
        return oid, ns or "pg_catalog", rel, cols

    def _rel(self, b: bytes, base: int = 1) -> tuple[dict, int]:
        (oid,) = struct.unpack_from("!i", b, base)
        rel = self._rels.get(oid)
        if rel is None:
            raise ValueError(
                f"change references relation oid {oid} with no prior "
                "Relation message — protocol violation or a stream "
                "resumed past its R messages"
            )
        return rel, base + 4

    def _parse_change(
        self, kind: bytes, wal_start: int, b: bytes, base: int = 1
    ) -> list[dict]:
        if kind == b"T":
            # truncate: nrel(4) options(1) then oids — ONE change per
            # affected table (wal2json emits one truncate entry per
            # table; collapsing to one would silently lose the rest).
            # Sub-ordinal ids wal_start+i stay unique and monotone: the
            # wire message is 6+4n bytes, so wal_start+i < next wal_start.
            (nrel,) = struct.unpack_from("!i", b, base)
            off = base + 5
            oids = struct.unpack_from(f"!{nrel}i", b, off)
            out = []
            for i, oid in enumerate(oids):
                rel = self._rels.get(oid)
                if rel is None:
                    raise ValueError(f"truncate references unknown oid {oid}")
                out.append(
                    {
                        "id": wal_start + i,
                        "kind": "truncate",
                        "schema": rel["schema"],
                        "table": rel["table"],
                        "columnnames": [],
                        "columntypes": [],
                        "columnvalues": [],
                    }
                )
            return out
        if kind == b"M":
            # logical-decoding message (pg_logical_emit_message — the
            # public outbox/marker mechanism): flags(1) lsn(8)
            # prefix(cstr) length(4) content bytes. Emitted as kind
            # 'message' with prefix/content columns (content in
            # bytea hex-text form for byte fidelity); schema/table are
            # NULL so table-routing sinks treat it as unroutable
            # rather than a row change.
            off = base + 9  # skip flags + lsn
            prefix, off = _cstr(b, off)
            (ln,) = struct.unpack_from("!i", b, off)
            off += 4
            content = b[off : off + ln]
            return [
                {
                    "id": wal_start,
                    "kind": "message",
                    "schema": None,
                    "table": None,
                    "columnnames": ["prefix", "content"],
                    "columntypes": ["text", "bytea"],
                    "columnvalues": [prefix, "\\x" + content.hex()],
                }
            ]
        rel, off = self._rel(b, base)
        names = [c[0] for c in rel["cols"]]
        types = [c[1] for c in rel["cols"]]
        is_key = [c[2] for c in rel["cols"]]
        oids = [c[3] for c in rel["cols"]]
        old = old_marker = None
        old_toast: list[int] = []
        if kind in (b"U", b"D"):
            marker = b[off : off + 1]
            if marker in (b"K", b"O"):
                old_marker = marker
                off += 1
                old, old_toast, off = _tuple_data(b, off)
        new = None
        new_toast: list[int] = []
        if kind in (b"I", b"U"):
            marker = b[off : off + 1]
            if marker != b"N":
                raise ValueError(f"expected new-tuple marker, got {marker!r}")
            off += 1
            new, new_toast, off = _tuple_data(b, off)
        change: dict = {
            "id": wal_start,
            "kind": {b"I": "insert", b"U": "update", b"D": "delete"}[kind],
            "schema": rel["schema"],
            "table": rel["table"],
            "columnnames": [],
            "columntypes": [],
            "columnvalues": [],
        }
        if new is not None:
            # unchanged-TOAST cells are OMITTED (wal2json parity): a
            # NULL here would be indistinguishable from a real NULL and
            # the LWW apply would overwrite the stored value with it
            skip = set(new_toast)
            keep = [i for i in range(len(new)) if i not in skip]
            change["columnnames"] = [names[i] for i in keep]
            change["columntypes"] = [types[i] for i in keep]
            change["columnvalues"] = [
                _cell_text(new[i], oids[i]) for i in keep
            ]
        if old is not None:
            if old_marker == b"K":
                # REPLICA IDENTITY DEFAULT/USING INDEX: the relation's
                # per-column key flags say exactly which columns form
                # the key — a genuinely-NULL cell in a key column is
                # kept as NULL, never conflated with "not a key column"
                keep = [i for i in range(len(old)) if is_key[i]]
            else:
                # REPLICA IDENTITY FULL ('O'): all columns, NULLs
                # included (wal2json identity-full output); only
                # unchanged-TOAST cells are omitted, as on the new side
                skip = set(old_toast)
                keep = [i for i in range(len(old)) if i not in skip]
            change["oldkeys"] = {
                "keynames": [names[i] for i in keep],
                "keytypes": [types[i] for i in keep],
                "keyvalues": [_cell_text(old[i], oids[i]) for i in keep],
            }
        return [change]


def tail_pgoutput_to_drop_dir(
    client,
    drop_dir: str,
    publication: str,
    start_lsn: int = 0,
    max_changes: int | None = None,
    idle_timeout_s: float | None = None,
    proto_version: int = 1,
    messages: bool = False,
    binary: bool = False,
) -> int:
    """The drop-dir tail for the built-in pgoutput plugin: stream,
    assemble one wal2json-shaped JSONL document per committed
    transaction, and write each commit's documents as one file through
    the wal2json tail's loop (lr_client._tail_drop_dir: durable
    rename, then confirm). Returns the number of CHANGES written
    (insert/update/delete/truncate rows — begin/commit/relation
    messages are assembly, not payload).

    Long-running safety: per-message work is O(message) — change
    counting comes from feed()'s return value and flushed documents are
    POPPED from the assembler (take_docs), so a tail left running for
    days holds only the current uncommitted transaction in memory, and
    empty commits (transactions touching no published table) confirm
    the LSN without writing a file.

    proto_version=2 additionally negotiates `streaming=on` (PG 14+):
    the server streams transactions that exceed its
    logical_decoding_work_mem WHILE THEY RUN; the assembler buffers
    them per xid and still emits one document per COMMIT (stream
    aborts discard), so the drop-dir contract — committed transactions
    only, commit order — is identical under both versions.

    Same bounded-drain contract as the wal2json tail: `max_changes`
    bounds from above, `idle_timeout_s` exits once the wire is silent
    BETWEEN frames, and a mid-frame timeout raises (slow wire, not an
    idle one). The slot must be created with plugin='pgoutput' and a
    PUBLICATION covering the tables must exist — both are server-side
    one-liners against stock Postgres, which is the point."""
    asm = PgOutputAssembler(proto_version=proto_version)
    n_changes = 0
    options = {
        "proto_version": str(proto_version),
        "publication_names": publication,
    }
    if proto_version >= 2:
        options["streaming"] = "on"
    if proto_version >= 3:
        # needs a slot created with TWO_PHASE
        # (LRClient.create_slot(two_phase=True))
        options["two_phase"] = "on"
    if messages:
        # PG 14+: deliver pg_logical_emit_message payloads
        # (kind='message' changes; non-transactional ones emit
        # as their own single-change document immediately)
        options["messages"] = "on"
    if binary:
        # PG 14+: tuple cells arrive in the types' binary wire
        # formats; the assembler converts each back to the
        # canonical text output, so the written documents are
        # byte-identical to a text-mode tail (live-pinned)
        options["binary"] = "on"

    def feed(msg: XLogData, lines: list[bytes]) -> bool:
        nonlocal n_changes
        n_changes += asm.feed(msg.wal_start, msg.payload)
        docs = asm.take_docs()
        lines.extend(json.dumps(d, separators=(",", ":")).encode() for d in docs)
        # one file per commit batch reaching the dir; a commit of an
        # empty transaction, stream-commit of a fully-aborted-subxact
        # one, stream-abort, or rollback-prepared writes no file but
        # its position is consumed — confirm so a huge rolled-back
        # transaction doesn't pin WAL until the next real commit
        return bool(docs) or msg.payload[:1] in (b"C", b"c", b"A", b"r")

    def done() -> bool:
        # the bound only fires BETWEEN transactions: breaking
        # mid-transaction would discard the buffered changes of an
        # uncommitted (but soon-committing) transaction — the 4th
        # change of a 4-change transaction arrives BEFORE its commit
        # message, and tearing there emits nothing at all
        return (
            max_changes is not None
            and n_changes >= max_changes
            and asm.at_tx_boundary()
        )

    # confirms are floor-capped: an UNDECIDED prepared transaction
    # keeps the confirmed LSN below its first frame, so a crash before
    # its commit-prepared restarts WITH the prepared changes redelivered
    _tail_drop_dir(
        client, drop_dir, start_lsn, idle_timeout_s, feed, done,
        confirm_floor=asm.confirm_floor, options=options,
    )
    # idle-timeout exits can leave an open (streamed/prepared/plain)
    # transaction buffered: those changes were counted by feed() but
    # never written — subtract them so the return value (and the
    # CLI's "consumed") reports CHANGES WRITTEN, not changes seen
    return n_changes - asm.undelivered_count()
