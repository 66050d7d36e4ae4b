"""JDBC-line proxy — puts the Thrift door's statements through the window.

The reference ran EVERY client through the batching window
(WorksharingExecutor.scala:65-98): statements queue, the optimizer sees
the whole batch, rewrites fire BEFORE anything executes. HiveServer2
cannot do that — it executes each statement eagerly on arrival. This
proxy is the JDBC door's one bridge into the window, pre-execution,
with no client change beyond the port number. A client that connects
to HiveServer2 directly runs unshared: its statements are never
batched, counted for cache admission or merged (they still read any
relation the gateway has cached):

    beeline/Tableau ──> JdbcLineProxy ──> HiveServer2 (same JVM/driver)
                            │ hold ExecuteStatement
                            ▼
                     WorkSharingServer.prime()  (window → detector →
                     caching rewrite → cache materialized)
                            │ release
                            ▼
                     HiveServer2 executes against the warm cache

It is a byte-level pass-through: every byte the client sends reaches
HiveServer2 unmodified and in order. The baseline intervention is
TIMING — a frame carrying an ``ExecuteStatement`` call is held until
the gateway's window has admitted the statement as a prime-only job and
the batch (detection + cache rewrite) has run. Concurrent dashboard
clients therefore land in ONE window batch, their shared scan is
detected and cached ONCE, and each client's own HiveServer2 execution
reads the InMemoryRelation.

Round 7 adds the second regime, SUBSTITUTION (``answer=``, see
JdbcLineProxy docstring): statements the gateway can fully answer are
never forwarded at all — the proxy synthesizes the Thrift operation
lifecycle from the gateway's (possibly MRShare-merged) execution, so
the merge win reaches JDBC clients too. Substitution is fenced by a
per-connection cleanliness bit: a non-benign OpenSession configuration
overlay (set:hivevar/engine confs, non-default database — connect-time
session state the gateway cannot see) or the first command statement
demotes the connection to gate+forward for its remaining lifetime.

A connection's own temp views do not demote it. HiveServer2 holds them
in the client's session; the proxy keeps only their lowercased names
(``_Conn.views``), passes them on every ``answer()`` call and forwards
each statement that names one, so a connection that opened with a
housekeeping view still has its base-table statements answered from
the gateway's root session (cross-client merges, shared result cache).

The proxy never judges SQL text itself. The gateway parses each
statement once, with the requesting session's own parser, and the
readers below (:func:`benign_command`, :func:`temp_view`,
:func:`dropped_view`) read the parsed Catalyst node; ``answer()``'s
reply tells the proxy what the statement was, and carries the
connection's new set of view names when it created or dropped one.
Only the OpenSession overlay map, which is not SQL, is checked here,
against the same key allowlist (:func:`benign_open_conf`).

A client's conf never reaches the gateway. A perf-conf ``SET`` on the
allowlist (statement or overlay form) is benign: it is forwarded to
HiveServer2, which applies it to that client's own session, and the
connection stays substitution-clean. The gateway's sessions keep the
server's own configuration, so no client can reshape the plans of
another.

Wire knowledge used (all public Apache Thrift / HiveServer2 spec):

- TBinaryProtocol strict framing: ``i32(0x8001_0001) name:string
  seqid:i32 args:struct``; struct fields are ``type:byte id:i16
  value`` until a 0x00 stop byte; containers carry their element
  types + count. ONE generic reader (:func:`_read`) decodes any value
  — a struct into ``{field id: value}`` — and :func:`parse_call`
  turns a message into a :class:`Call`; the proxy then reads the few
  fields it needs by path through the TCLIService request structs
  (``ExecuteStatement`` args field 1 = TExecuteStatementReq{1:
  TSessionHandle, 2: string statement, ...}; see :meth:`Call.get`).
- TSaslTransport (hive.server2.authentication=NONE → SASL/PLAIN):
  negotiation messages are ``status:byte len:i32 payload`` with status
  in 1..5 (START/OK/BAD/ERROR/COMPLETE); after the handshake every
  write is a ``len:i32 payload`` frame. Frames are < 16 MiB so their
  first byte is 0x00 — statuses are 1..5 — which disambiguates the two
  phases without tracking the server side of the handshake.
- NOSASL (raw TBinaryProtocol, ``;auth=noSasl``): no framing; message
  boundaries come from fully parsing each message.

Both transports feed ONE unit path (``JdbcLineProxy._unit``): a raw
message, or a SASL data frame parsed once into its messages, is either
answered locally (exactly one complete message the proxy owns) or
forwarded byte for byte after its ``ExecuteStatement`` calls are
gated.

Anything unparseable demotes the CONNECTION to blind pass-through
(never corrupt, never drop — a proxy that breaks the wire is worse
than no sharing), counted in ``stats["blind_connections"]``.

100 TB notes: the proxy is driver-side byte plumbing (two pump threads
per connection, zero data-plane work); the held statement's cost is
the window latency the reference imposed on every client by design.
The cache admission it triggers is the production CacheManager with
its byte floor / benefit bar / free-storage checks — the proxy adds
demand evidence, never its own cache policy.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
from typing import Any, Callable, NamedTuple, Optional

from sparksql_server_spark.plans.catalyst import kind, pylist

# Thrift binary protocol type codes (public spec)
_STOP, _BOOL, _BYTE, _DOUBLE = 0, 2, 3, 4
_I16, _I32, _I64, _STRING = 6, 8, 10, 11
_STRUCT, _MAP, _SET, _LIST = 12, 13, 14, 15
_UUID = 16  # thrift 0.18+
# fixed-width types: (width, struct format); a uuid reads as its bytes
_FIXED = {
    _BOOL: (1, ">?"),
    _BYTE: (1, ">b"),
    _DOUBLE: (8, ">d"),
    _I16: (2, ">h"),
    _I32: (4, ">i"),
    _I64: (8, ">q"),
    _UUID: (16, None),
}
# deepest nesting a message may have: TCLIService requests nest five
# levels; a deeper message is malformed, not a reason to recurse
_MAX_DEPTH = 64

_VERSION_MASK = 0xFFFF0000
_VERSION_1 = 0x80010000


class _Incomplete(Exception):
    """Buffer ends mid-value — caller should wait for more bytes."""


def _need(buf: bytes, pos: int, n: int) -> None:
    if pos + n > len(buf):
        raise _Incomplete


def _count(buf: bytes, pos: int) -> int:
    """The non-negative i32 length or element count at ``pos``."""
    _need(buf, pos, 4)
    (n,) = struct.unpack_from(">i", buf, pos)
    if n < 0:
        raise ValueError("negative length")
    return n


def _read(buf: bytes, pos: int, ttype: int, depth: int = 0) -> tuple[Any, int]:
    """Decode one TBinaryProtocol value of ``ttype`` at ``pos``; returns
    ``(value, end)``. A struct reads as ``{field id: value}``, a list or
    set as a list, a map as a dict, a string as bytes, a fixed-width
    value as int, bool, float (double) or bytes (uuid). Raises
    _Incomplete on a short buffer, ValueError on a negative length, an
    unknown type or nesting past ``_MAX_DEPTH``."""
    if depth > _MAX_DEPTH:
        raise ValueError("thrift value nested too deep")
    fixed = _FIXED.get(ttype)
    if fixed is not None:
        width, fmt = fixed
        _need(buf, pos, width)
        if fmt is None:
            return buf[pos : pos + width], pos + width
        return struct.unpack_from(fmt, buf, pos)[0], pos + width
    if ttype == _STRING:
        n = _count(buf, pos)
        _need(buf, pos + 4, n)
        return buf[pos + 4 : pos + 4 + n], pos + 4 + n
    if ttype == _STRUCT:
        fields: dict[int, Any] = {}
        while True:
            _need(buf, pos, 1)
            ft = buf[pos]
            if ft == _STOP:
                return fields, pos + 1
            _need(buf, pos + 1, 2)
            (fid,) = struct.unpack_from(">h", buf, pos + 1)
            fields[fid], pos = _read(buf, pos + 3, ft, depth + 1)
    if ttype in (_SET, _LIST):
        _need(buf, pos, 1)
        et, n = buf[pos], _count(buf, pos + 1)
        pos += 5
        items = []
        for _ in range(n):
            item, pos = _read(buf, pos, et, depth + 1)
            items.append(item)
        return items, pos
    if ttype == _MAP:
        _need(buf, pos, 2)
        kt, vt, n = buf[pos], buf[pos + 1], _count(buf, pos + 2)
        pos += 6
        entries: dict[Any, Any] = {}
        for _ in range(n):
            start = pos
            key, pos = _read(buf, pos, kt, depth + 1)
            if isinstance(key, (dict, list)):  # unhashable: key by its bytes
                key = buf[start:pos]
            entries[key], pos = _read(buf, pos, vt, depth + 1)
        return entries, pos
    raise ValueError(f"unknown thrift type {ttype}")


_HIVECONF = "set:hiveconf:"


def benign_open_conf(conf: dict[str, str]) -> bool:
    """True when a connect-time configuration overlay cannot change
    what a shared-catalog query means: the default database selection,
    server-side thrift transport knobs (fetch sizing etc. — they
    shape RESPONSE BATCHING, which the substitution controls anyway,
    never query semantics), and result-semantics-free perf-conf keys
    (:data:`_PERF_SET_KEYS`, the allowlist the ``SET k=v`` statement
    path reads: BI tools pass the SAME knobs through the JDBC URL's
    ``?hiveconf:`` overlay form). Only the key is read: HiveServer2
    applies the value to the client's own session, never the gateway.
    Anything else — set:hivevar substitutions, engine/exec confs, a
    non-default database — must demote the connection to
    gate+forward."""
    for k, v in conf.items():
        if k == "use:database":
            if v != "default":
                return False
        elif k.startswith(_HIVECONF + "hive.server2."):
            continue
        elif not k.startswith(_HIVECONF) or (
            k[len(_HIVECONF) :].strip().lower() not in _PERF_SET_KEYS
        ):
            return False
    return True


# SET-assignment keys that shape WHERE/HOW a plan executes but provably
# cannot change WHAT a query returns: BI tools emit performance-conf
# assignments at connect, and demoting on them turned substitution off
# for exactly the clients it targets. Parallelism, broadcast sizing,
# adaptive re-planning and scheduler placement change partition counts
# and join strategies — never rows. Keys NOT on this list (hivevar
# substitutions, ANSI/timezone/case sensitivity, class-name and
# free-string adaptive keys, arbitrary k=v) still demote: unknown means
# unsafe. Lowercased: the match is case-insensitive.
_PERF_SET_KEYS = frozenset(
    {
        "spark.sql.shuffle.partitions",
        "spark.sql.autobroadcastjointhreshold",
        "spark.sql.broadcasttimeout",
        "spark.sql.files.maxpartitionbytes",
        "spark.sql.files.opencostinbytes",
        "spark.scheduler.pool",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescepartitions.enabled",
        "spark.sql.adaptive.coalescepartitions.parallelismfirst",
        "spark.sql.adaptive.coalescepartitions.minpartitionsize",
        "spark.sql.adaptive.coalescepartitions.initialpartitionnum",
        "spark.sql.adaptive.advisorypartitionsizeinbytes",
        "spark.sql.adaptive.autobroadcastjointhreshold",
        "spark.sql.adaptive.skewjoin.enabled",
        "spark.sql.adaptive.skewjoin.skewedpartitionfactor",
        "spark.sql.adaptive.skewjoin.skewedpartitionthresholdinbytes",
        "spark.sql.adaptive.localshufflereader.enabled",
        "spark.sql.adaptive.forceoptimizeskewedjoin",
        "spark.sql.adaptive.optimizeskewsinrebalancepartitions.enabled",
        "spark.sql.adaptive.rebalancepartitionssmallpartitionfactor",
        "spark.sql.adaptive.maxshuffledhashjoinlocalmapthreshold",
    }
)


# -- statement readers over Spark's parse ----------------------------------
# The gateway parses each statement once, with the requesting session's
# own parser (scheduler.classify), and reads the parsed Catalyst node
# here: a statement is whatever Spark says it is. Text the parser
# rejects has no plan to read: the gateway runs it as a query, the
# query fails, and the reply asks the proxy to forward it, leaving the
# connection clean (HiveServer2 rejects the text too).


def benign_command(plan: Any) -> bool:
    """True for a parsed session-housekeeping command that provably
    cannot change what a shared-catalog query means, so the proxy keeps
    the connection SUBSTITUTION-CLEAN across it (VERDICT r7 ask #1: BI
    tools open every connection with such housekeeping, and demoting on
    it turned substitution off for exactly the clients it targets).
    The statement still forwards to HiveServer2 either way, and the
    gateway applies none of it: a benign SET changes only the client's
    own HiveServer2 session.

    - ``USE default`` (``SetCatalogAndNamespace [default]``): the
      database the gateway already resolves against.
    - ``SET``, ``SET -v``, ``SET <key>`` (``SetCommand`` without a
      value): conf READS.
    - ``SET hive.server2.*=...``: thrift transport/fetch knobs, which
      shape response batching, never rows.
    - ``SET <k>=<v>`` with ``k`` on :data:`_PERF_SET_KEYS`:
      plan-shaping knobs. Only the key is read; the value is
      HiveServer2's to accept or reject for the client's session.
    - bare ``RESET`` (``ResetCommand`` without a key): reachable while
      clean only when nothing non-benign was ever set, so what it
      un-does was results-free anyway.

    Everything else (other SETs, hivevar substitutions, DDL/DML,
    ADD JAR) demotes, matching :func:`benign_open_conf`."""
    node = kind(plan)
    if node == "ResetCommand":
        return plan.config().isEmpty()
    if node == "SetCatalogAndNamespace":
        ns = plan.child()
        return kind(ns) == "UnresolvedNamespace" and [
            p.lower() for p in pylist(ns.multipartIdentifier())
        ] == ["default"]
    if node == "SetCommand":
        if plan.kv().isEmpty() or plan.kv().get()._2().isEmpty():
            return True  # bare SET, SET -v or SET <key>: a read
        key = plan.kv().get()._1().strip().lower()
        return key.startswith("hive.server2.") or key in _PERF_SET_KEYS
    return False


def _plain_name(name: str) -> bool:
    # a backquoted dotted name is one part to the parser; the proxy
    # keeps to plain identifiers, the names BI tools generate
    return bool(name) and "." not in name


def temp_view(plan: Any) -> Optional[tuple[str, Any]]:
    """``(name, body plan)`` when ``plan`` is a parsed
    ``CREATE [OR REPLACE] TEMPORARY VIEW <name> AS <query>`` whose name
    a connection may keep without being demoted — else None. The view
    must be a ``LocalTempView`` (GLOBAL temporary views live in the
    global_temp namespace, CROSS-session on HiveServer2, so another
    connection's statements could read them) with a plain one-part
    name and no column list. Whether the body analyzes is the
    server's call; this reader decides only the SHAPE."""
    if kind(plan) != "CreateViewCommand":
        return None
    name = plan.name()
    if (
        plan.viewType().toString() != "LocalTempView"
        or not name.database().isEmpty()
        or not _plain_name(name.table())
        or not plan.userSpecifiedColumns().isEmpty()
    ):
        return None
    return name.table(), plan.plan()


def dropped_view(plan: Any) -> Optional[str]:
    """The name when ``plan`` is a parsed ``DROP VIEW [IF EXISTS]
    <name>`` over a plain one-part name — the only drop shape that
    keeps a connection clean, and only (the server checks) when the
    name is one of THIS connection's temp views: a drop of anything
    else could target a SHARED catalog view, which is a real command
    and demotes."""
    if kind(plan) != "DropView" or kind(plan.child()) != "UnresolvedIdentifier":
        return None
    parts = pylist(plan.child().nameParts())
    return parts[0] if len(parts) == 1 and _plain_name(parts[0]) else None


class Call(NamedTuple):
    """One strict-TBinaryProtocol CALL message: where it ends, its
    method ``name`` and ``seqid``, and its decoded ``args`` struct
    (:func:`_read`). Paths into ``args`` follow the public TCLIService
    IDL: every request is args field 1, the T<method>Req struct."""

    end: int
    name: str
    seqid: int
    args: dict

    def get(self, path: tuple[int, ...], typ: type) -> Any:
        """The ``args`` value at ``path`` (field ids, outermost first)
        when it is exactly a ``typ``, else None: a field of the wrong
        type reads as absent."""
        value: Any = self.args
        for fid in path:
            value = value.get(fid) if type(value) is dict else None
        return value if type(value) is typ else None

    @property
    def statement(self) -> Optional[str]:
        """ExecuteStatement's SQL (TExecuteStatementReq field 2), or
        None for every other call and for an empty statement."""
        if self.name != "ExecuteStatement":
            return None
        sql = self.get((1, 2), bytes)
        return sql.decode("utf-8", "replace") if sql else None


def parse_call(buf: bytes, pos: int = 0) -> Optional[Call]:
    """Parse one strict-TBinaryProtocol CALL message starting at
    ``pos``; None when the buffer ends mid-message (read more and
    retry). Raises ValueError on bytes that are not a strict Thrift
    message."""
    try:
        _need(buf, pos, 4)
        (version,) = struct.unpack_from(">I", buf, pos)
        if (version & _VERSION_MASK) != _VERSION_1:
            raise ValueError(f"not a strict thrift message: 0x{version:08x}")
        if _count(buf, pos + 4) > 1024:
            raise ValueError("implausible method-name length")
        name, pos = _read(buf, pos + 4, _STRING)
        seqid, pos = _read(buf, pos, _I32)
        args, end = _read(buf, pos, _STRUCT)
        return Call(end, name.decode("utf-8", "replace"), seqid, args)
    except _Incomplete:
        return None


def parse_frame(payload: bytes) -> tuple[list[Call], bool]:
    """The calls in a SASL data frame's payload, parsed once, in order
    (normally exactly one; a batching client may pack more), and
    whether they fill the payload exactly. A malformed or partial tail
    ends the list: the calls before it still count, the tail is
    HiveServer2's to reject."""
    calls: list[Call] = []
    pos = 0
    try:
        while pos < len(payload):
            call = parse_call(payload, pos)
            if call is None:
                break
            calls.append(call)
            pos = call.end
    except ValueError:
        pass
    return calls, pos == len(payload)


# ---------------------------------------------------------------------------
# TBinaryProtocol response writers (strict) — the ENCODE half of the
# wire knowledge above, used to answer a held ExecuteStatement from the
# gateway instead of forwarding it (VERDICT r6 ask #7). Struct layouts
# are the public Apache Hive TCLIService.thrift.
# ---------------------------------------------------------------------------

_REPLY = 0x80010002


def _fld(ftype: int, fid: int, payload: bytes) -> bytes:
    return bytes([ftype]) + struct.pack(">h", fid) + payload


def _f_i16(fid: int, v: int) -> bytes:
    return _fld(_I16, fid, struct.pack(">h", v))


def _f_i32(fid: int, v: int) -> bytes:
    return _fld(_I32, fid, struct.pack(">i", v))


def _f_i64(fid: int, v: int) -> bytes:
    return _fld(_I64, fid, struct.pack(">q", v))


def _f_bool(fid: int, v: bool) -> bytes:
    return _fld(_BOOL, fid, b"\x01" if v else b"\x00")


def _f_str(fid: int, s: bytes) -> bytes:
    return _fld(_STRING, fid, struct.pack(">i", len(s)) + s)


def _f_struct(fid: int, body_with_stop: bytes) -> bytes:
    return _fld(_STRUCT, fid, body_with_stop)


_STATUS_OK = _f_i32(1, 0) + b"\x00"  # TStatus{statusCode: SUCCESS}


def _reply(name: str, seqid: int, success_struct: bytes) -> bytes:
    """Strict REPLY message whose result struct carries the success
    value at field 0 (thrift convention for non-void returns)."""
    nb = name.encode()
    return (
        struct.pack(">I", _REPLY)
        + struct.pack(">i", len(nb))
        + nb
        + struct.pack(">i", seqid)
        + _f_struct(0, success_struct)
        + b"\x00"
    )


def _op_handle(guid: bytes, secret: bytes) -> bytes:
    """TOperationHandle{operationId, EXECUTE_STATEMENT, hasResultSet}."""
    ident = _f_str(1, guid) + _f_str(2, secret) + b"\x00"
    return _f_struct(1, ident) + _f_i32(2, 0) + _f_bool(3, True) + b"\x00"


def encode_execute_resp(seqid: int, guid: bytes, secret: bytes) -> bytes:
    body = _f_struct(1, _STATUS_OK) + _f_struct(2, _op_handle(guid, secret)) + b"\x00"
    return _reply("ExecuteStatement", seqid, body)


def encode_status_resp(seqid: int) -> bytes:
    """TGetOperationStatusResp{SUCCESS, FINISHED_STATE}."""
    body = _f_struct(1, _STATUS_OK) + _f_i32(2, 2) + b"\x00"
    return _reply("GetOperationStatus", seqid, body)


# column kind -> (TColumn union field id, thrift element type, packer,
# null placeholder). Mirrors HiveServer2's columnar V6 result encoding:
# integral/floating/boolean columns ship in their native TColumn arm;
# dates, timestamps, decimals and complex values ship as strings (that
# is Hive's own wire format for them — typed JDBC getters parse the
# string client-side).
_COL_ENC = {
    "bool": (1, 2, lambda v: b"\x01" if v else b"\x00", False),
    "i64": (5, 10, lambda v: struct.pack(">q", v), 0),
    "double": (6, 4, lambda v: struct.pack(">d", v), 0.0),
}

# Hive TTypeId values for the column types the substitution emits
_HIVE_BOOLEAN, _HIVE_BIGINT, _HIVE_DOUBLE = 0, 4, 6
_HIVE_STRING, _HIVE_TIMESTAMP, _HIVE_DATE = 7, 8, 17


# Spark dtype simpleString (prefix) -> (encoding kind, Hive TTypeId).
# The declared type decides — an empty or all-NULL result keeps its column types and the
# same statement always reports the same schema.
_DTYPE_KINDS = {
    "boolean": ("bool", _HIVE_BOOLEAN),
    "tinyint": ("i64", _HIVE_BIGINT),
    "smallint": ("i64", _HIVE_BIGINT),
    "int": ("i64", _HIVE_BIGINT),
    "bigint": ("i64", _HIVE_BIGINT),
    "float": ("double", _HIVE_DOUBLE),
    "double": ("double", _HIVE_DOUBLE),
    "date": ("string", _HIVE_DATE),
    "timestamp": ("string", _HIVE_TIMESTAMP),  # also timestamp_ntz
}


def column_kinds(
    columns: list[list], dtypes: list[str] | None
) -> tuple[list[str], list[int]]:
    """(encoding kind, Hive TTypeId) per column, read from ``dtypes``
    (Spark ``df.dtypes`` simpleStrings, which the gateway ships with
    every result): the declared type decides, so empty and all-NULL
    results report the same schema as populated ones. Raises
    ValueError unless ``dtypes`` names one type per column — the
    caller then forwards the statement instead of answering it."""
    if dtypes is None or len(dtypes) != len(columns):
        raise ValueError("result carries no dtypes for its columns")
    kinds, type_ids = [], []
    for dt_str in dtypes:
        base = dt_str.split("(")[0]
        if base == "timestamp_ntz":
            base = "timestamp"
        kind, tid = _DTYPE_KINDS.get(base, ("string", _HIVE_STRING))
        kinds.append(kind)
        type_ids.append(tid)
    return kinds, type_ids


def encode_metadata_resp(
    seqid: int, columns: list[str], type_ids: list[int] | None = None
) -> bytes:
    """TGetResultSetMetadataResp with per-column TPrimitiveTypeEntry —
    BIGINT/DOUBLE/BOOLEAN for native-typed result columns,
    TIMESTAMP/DATE for temporal columns (shipped as strings, Hive's
    own wire form), STRING otherwise (or for untyped callers)."""
    descs = b""
    for i, c in enumerate(columns):
        tid = type_ids[i] if type_ids else _HIVE_STRING
        prim = _f_i32(1, tid) + b"\x00"  # TPrimitiveTypeEntry{type}
        entry = _f_struct(1, prim) + b"\x00"  # TTypeEntry union
        typedesc = (
            _fld(_LIST, 1, bytes([_STRUCT]) + struct.pack(">i", 1) + entry) + b"\x00"
        )
        descs += (
            _f_str(1, c.encode()) + _f_struct(2, typedesc) + _f_i32(3, i + 1) + b"\x00"
        )
    schema = (
        _fld(_LIST, 1, bytes([_STRUCT]) + struct.pack(">i", len(columns)) + descs)
        + b"\x00"
    )
    body = _f_struct(1, _STATUS_OK) + _f_struct(2, schema) + b"\x00"
    return _reply("GetResultSetMetadata", seqid, body)


def _encode_column(values: list, kind: str = "string") -> bytes:
    """One TColumn union arm with a nulls bitmask (bit i%8 of byte
    i//8, Hive's little-endian-within-byte convention). NULLs carry
    the arm's placeholder value with their bitmask bit set."""
    n = len(values)
    nulls = bytearray((n + 7) // 8 or 1)
    if kind == "string":
        items = bytearray()
        for i, v in enumerate(values):
            if v is None:
                nulls[i // 8] |= 1 << (i % 8)
                s = b""
            else:
                s = str(v).encode()
            items += struct.pack(">i", len(s)) + s
        field_id, elem_type, payload = 7, _STRING, bytes(items)
    else:
        field_id, elem_type, pack, placeholder = _COL_ENC[kind]
        items = bytearray()
        for i, v in enumerate(values):
            if v is None:
                nulls[i // 8] |= 1 << (i % 8)
                v = placeholder
            items += pack(v)
        payload = bytes(items)
    col = (
        _fld(_LIST, 1, bytes([elem_type]) + struct.pack(">i", n) + payload)
        + _f_str(2, bytes(nulls))
        + b"\x00"
    )
    return _f_struct(field_id, col) + b"\x00"  # TColumn union


def encode_fetch_error_resp(seqid: int, message: str) -> bytes:
    """TFetchResultsResp whose TStatus is ERROR_STATUS (3) with an
    errorMessage — what HiveServer2 returns for requests it rejects
    (e.g. unsupported fetch orientations). No row set is attached;
    clients check status before touching results."""
    status = (
        _f_i32(1, 3)  # TStatusCode.ERROR_STATUS
        + _f_str(3, b"HY000")  # sqlState: general error
        + _f_i32(4, 0)
        + _f_str(5, message.encode())
        + b"\x00"
    )
    body = _f_struct(1, status) + b"\x00"
    return _reply("FetchResults", seqid, body)


def encode_fetch_resp(
    seqid: int,
    columns: list[list],
    kinds: list[str] | None = None,
    has_more: bool = False,
    start_row: int = 0,
) -> bytes:
    """TFetchResultsResp with a columnar (protocol V6+) TRowSet.
    ``columns`` is column-major data for THIS batch; pass [] for an
    exhausted/log fetch. ``kinds`` (from column_kinds) selects each
    column's TColumn arm; untyped callers get all-strings.
    ``has_more`` is TFetchResultsResp.hasMoreRows — True while the
    operation holds rows past this batch (the proxy honors the
    client's maxRows, so big-but-under-the-inline-cap results paginate
    exactly as HiveServer2 would); ``start_row`` is the batch's
    TRowSet.startRowOffset."""
    cols = b"".join(
        _encode_column(c, kinds[j] if kinds else "string")
        for j, c in enumerate(columns)
    )
    rowset = (
        _f_i64(1, start_row)
        + _fld(_LIST, 2, bytes([_STRUCT]) + struct.pack(">i", 0))  # rows: []
        + _fld(_LIST, 3, bytes([_STRUCT]) + struct.pack(">i", len(columns)) + cols)
        + b"\x00"
    )
    body = (
        _f_struct(1, _STATUS_OK)
        + _f_bool(2, has_more)
        + _f_struct(3, rowset)
        + b"\x00"
    )
    return _reply("FetchResults", seqid, body)


def encode_status_only_resp(name: str, seqid: int) -> bytes:
    """Responses that carry only TStatus (CloseOperation,
    CancelOperation)."""
    return _reply(name, seqid, _f_struct(1, _STATUS_OK) + b"\x00")



class _Conn:
    """Per-connection interception state."""

    __slots__ = (
        "clean",
        "ops",
        "wlock",
        "views",
    )

    def __init__(self) -> None:
        # True until any COMMAND statement passes through: commands
        # mutate HiveServer2 session state the gateway cannot see, so
        # substitution is disabled for the rest of the connection
        self.clean = True
        # lowercased names of the temp views this connection created
        # and has not dropped, as the gateway's replies report them:
        # HiveServer2 holds the views, and a statement naming one is
        # forwarded to it
        self.views: frozenset[str] = frozenset()
        # locally-answered operations: guid -> {"columns", "colmajor",
        # "kinds", "type_ids", "n_rows", "offset"} — FetchResults
        # serves [offset, offset+maxRows) per FETCH_NEXT and advances
        # the cursor; FETCH_FIRST rewinds it; exhausted fetches return
        # an empty batch with hasMoreRows=False
        self.ops: dict[bytes, dict] = {}
        # serializes client-socket writes between the upstream pump and
        # locally-synthesized responses
        self.wlock = threading.Lock()


class JdbcLineProxy:
    """TCP pass-through in front of a HiveServer2 port that gates
    ExecuteStatement frames through ``gate(sql)`` before forwarding.

    ``gate`` blocks until the statement has been through the sharing
    window (WorkSharingServer.prime). It must never raise — but if it
    does, the frame is forwarded anyway (sharing is best-effort; the
    client's query must not be).

    ``answer(sql, views)`` enables MERGE substitution: when set, a held
    ExecuteStatement whose SQL the gateway can fully answer
    (``WorkSharingServer.answer_jdbc``; ``views`` is the connection's
    set of temp-view names) is NOT forwarded — the proxy synthesizes
    the TExecuteStatementResp itself and serves the operation lifecycle
    (GetOperationStatus → FINISHED, GetResultSetMetadata → typed
    schema, FetchResults → one columnar V6 row batch,
    Close/CancelOperation) from the gateway result. Two
    same-signature statements arriving in one window then cost ONE
    merged execution and HiveServer2 never runs either — the
    reference's all-clients-through-the-window endpoint, completed.
    Substitution is per-connection conservative: the first command
    statement (SET/USE/DDL — anything mutating HiveServer2 session
    state the gateway cannot see) demotes the connection to gate+
    forward for its remaining lifetime. Exceptions: whitelisted benign
    housekeeping and allowlisted perf-conf SETs (benign_command),
    which forward to HiveServer2 and change only the client's own
    session there (the gateway never applies a client's conf), and the
    connection's own ``CREATE TEMPORARY VIEW`` / ``DROP VIEW``
    statements, which forward too: the reply's ``views`` becomes
    ``conn.views``, and every later statement naming one of those
    views is forwarded to HiveServer2, which holds them. Result
    columns ship in their
    native TColumn arms (BIGINT/DOUBLE/BOOLEAN; temporal and decimal
    values as strings under TIMESTAMP/DATE/STRING type ids — Hive's
    own wire form, so typed JDBC getters work). Limitation,
    documented: results bigger than the gateway's inline-row cap fall
    back to forwarding."""

    def __init__(
        self,
        upstream: tuple[str, int],
        gate: Callable[[str], None],
        host: str = "127.0.0.1",
        port: int = 0,
        answer: Optional[Callable[[str, frozenset[str]], Optional[dict]]] = None,
    ) -> None:
        self.upstream = upstream
        self.gate = gate
        self.answer = answer
        # counters are read-modify-write from concurrent handler/pump
        # threads; dict += is not atomic in CPython (ADVICE r6)
        self._stats_lock = threading.Lock()
        self.stats = {
            "connections": 0,
            "statements_gated": 0,
            "statements_answered": 0,
            "blind_connections": 0,
        }
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                outer._bump("connections")
                try:
                    up = socket.create_connection(outer.upstream, timeout=300)
                except OSError:
                    return  # upstream down — drop the client cleanly
                conn = _Conn()
                try:
                    t = threading.Thread(
                        target=outer._pump_blind,
                        args=(up, self.request, conn.wlock),
                        daemon=True,
                    )
                    t.start()
                    outer._pump_client(self.request, up, conn)
                    t.join(timeout=5)
                finally:
                    for s in (up, self.request):
                        try:
                            s.close()
                        except OSError:
                            pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = Server((host, port), Handler)
        self.address = self._tcp.server_address
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, daemon=True
        )

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "JdbcLineProxy":
        self._thread.start()
        return self

    def stop(self) -> None:
        # socketserver's shutdown() waits for a serve_forever loop, so
        # an unstarted proxy only closes its socket
        if self._thread.is_alive():
            self._tcp.shutdown()
        self._tcp.server_close()

    def _bump(self, counter: str) -> None:
        with self._stats_lock:
            self.stats[counter] += 1

    # -- pumps -------------------------------------------------------------

    @staticmethod
    def _pump_blind(
        src: socket.socket, dst: socket.socket, wlock: threading.Lock
    ) -> None:
        """Upstream→client: verbatim copy (responses are never held).
        Writes take the connection's client-write lock so a locally-
        synthesized response can never interleave mid-chunk."""
        try:
            while True:
                chunk = src.recv(1 << 16)
                if not chunk:
                    break
                with wlock:
                    dst.sendall(chunk)
        except OSError:
            pass
        try:
            dst.shutdown(socket.SHUT_WR)
        except OSError:
            pass

    def _gate_safely(self, sql: str) -> None:
        self._bump("statements_gated")
        try:
            self.gate(sql)
        except Exception:  # sharing is best-effort; the query is not
            pass

    def _pump_client(
        self, client: socket.socket, up: socket.socket, conn: _Conn
    ) -> None:
        """Client→upstream: forward complete protocol units in order,
        holding any unit that carries ExecuteStatement until the gate
        releases it (or answering it locally — see class docstring).
        Mode fixes on the first byte: 0x80 = raw strict
        TBinaryProtocol (NOSASL), 1..5 = SASL negotiation, anything
        else = blind (HTTP transport, TLS, unknown)."""
        buf = b""
        mode = None  # "raw" | "sasl" | "blind"
        try:
            while True:
                chunk = client.recv(1 << 16)
                if not chunk:
                    break
                buf += chunk
                if mode is None:
                    b0 = buf[0]
                    if b0 == 0x80:
                        mode = "raw"
                    elif 1 <= b0 <= 5:
                        mode = "sasl"
                    else:
                        mode = "blind"
                        self._bump("blind_connections")
                if mode == "blind":
                    up.sendall(buf)
                    buf = b""
                    continue
                buf, demoted = self._drain(buf, up, client, conn, mode)
                if demoted:
                    # not the protocol we thought — never corrupt:
                    # flush the UNFORWARDED tail (only — everything
                    # before it already went out inside _drain) and
                    # stop interpreting this connection
                    mode = "blind"
                    self._bump("blind_connections")
                    up.sendall(buf)
                    buf = b""
        except OSError:
            pass
        try:
            up.shutdown(socket.SHUT_WR)
        except OSError:
            pass

    def _drain(
        self,
        buf: bytes,
        up: socket.socket,
        client: socket.socket,
        conn: _Conn,
        mode: str,
    ) -> tuple[bytes, bool]:
        """Hand every COMPLETE unit at the head of ``buf`` to
        :meth:`_unit`; returns (unconsumed tail, demoted). A unit is a
        raw NOSASL message or a SASL data frame; SASL negotiation
        messages pass straight through. ``demoted`` means the tail is
        not the protocol we thought — the caller flushes it and goes
        blind. Handled units are consumed from the tail immediately,
        so a mid-stream demotion can never re-send them."""
        while buf:
            if mode == "raw":
                try:
                    call = parse_call(buf)
                except ValueError:
                    return buf, True
                if call is None:
                    break  # incomplete message
                n, calls, whole = call.end, [call], True
            else:
                # SASL: negotiation messages (status 1..5) pass through;
                # data frames (first byte 0x00: length < 16 MiB) may
                # carry an ExecuteStatement and are held for the gate
                b0 = buf[0]
                if 1 <= b0 <= 5:
                    if len(buf) < 5:
                        break
                    (n,) = struct.unpack_from(">i", buf, 1)
                    if n < 0:
                        return buf, True
                    if len(buf) < 5 + n:
                        break
                    up.sendall(buf[: 5 + n])
                    buf = buf[5 + n :]
                    continue
                if b0 != 0:
                    return buf, True
                if len(buf) < 4:
                    break
                (n,) = struct.unpack_from(">i", buf, 0)
                if n < 0:
                    return buf, True
                n += 4
                if len(buf) < n:
                    break
                calls, whole = parse_frame(buf[4:n])
            self._unit(conn, client, up, buf[:n], calls, whole, mode == "sasl")
            buf = buf[n:]
        return buf, False

    def _unit(
        self,
        conn: _Conn,
        client: socket.socket,
        up: socket.socket,
        unit: bytes,
        calls: list[Call],
        whole: bool,
        sasl: bool,
    ) -> None:
        """Answer or forward one unit: ``unit`` is its bytes, ``calls``
        the messages in it that parsed, ``whole`` whether they fill it.

        The OpenSession fences apply to every parsed message first: a
        pipelining client may pack a non-benign OpenSession together
        with other messages in one frame, and such an overlay must
        still demote the connection. The proxy answers a unit only
        when it is exactly one complete message it owns (a SASL reply
        goes back as one frame); otherwise each parsed
        ``ExecuteStatement`` is gated — unless the answer path already
        ran it through the window — and the unit's bytes are forwarded
        unchanged."""
        for call in calls:
            if call.name == "OpenSession":
                self._apply_open_fence(conn, call)
        gate = True
        if whole and len(calls) == 1:
            reply, gate = self._local_reply(conn, calls[0])
            if reply is not None:
                if sasl:
                    reply = struct.pack(">i", len(reply)) + reply
                with conn.wlock:
                    client.sendall(reply)
                return
        if gate:
            for call in calls:
                if stmt := call.statement:
                    self._gate_safely(stmt)
        up.sendall(unit)

    @staticmethod
    def _apply_open_fence(conn: _Conn, call: Call) -> None:
        """Demote a connection whose OpenSession the substitution
        cannot serve faithfully: a non-benign configuration overlay
        (TOpenSessionReq field 4 — connect-time session state the
        gateway cannot see), or a client protocol (field 1) below V6
        (=5) — such clients read the row-based TRowSet arm, and the
        synthesized results are columnar-only, so substituting would
        hand them empty rows."""
        overlay = call.get((1, 4), dict) or {}
        conf = {
            k.decode("utf-8", "replace"): v.decode("utf-8", "replace")
            for k, v in overlay.items()
            if type(k) is bytes and type(v) is bytes
        }
        if conf and not benign_open_conf(conf):
            conn.clean = False
        proto = call.get((1, 1), int)
        if proto is not None and proto < 5:
            conn.clean = False

    def _local_reply(self, conn: _Conn, call: Call) -> tuple[Optional[bytes], bool]:
        """``(reply, gate)``: the synthesized response bytes when the
        proxy owns this request, else None and whether the forwarded
        statement still needs the prime gate (False once the answer
        path has run it through a full window batch)."""
        stmt = call.statement
        if not stmt:
            return self._op_reply(conn, call), True
        if self.answer is None or not conn.clean:
            return None, True
        try:
            res = self.answer(stmt, conn.views)
            if res is None:
                return None, True  # pre-execution failure — gate + forward
            if res.get("passthrough") == "command":
                # mutates HiveServer2 session state the gateway
                # cannot see: demote this connection for good,
                # forward
                conn.clean = False
                return None, True
            if res.get("passthrough") or res.get("fallback"):
                # benign housekeeping (benign_command), a statement
                # over or creating/dropping this connection's own
                # temp views, or one the window already ran but
                # cannot substitute (error/sink/truncated): forward
                # so HiveServer2 runs it in this client's session,
                # keep the connection clean, and skip the gate — no
                # catalog effect to flush, and a (second) window
                # pass buys no sharing
                if "views" in res:
                    conn.views = frozenset(res["views"])
                return None, False
            import os as _os

            op_guid, secret = _os.urandom(16), _os.urandom(16)
            names = list(res.get("columns") or [])
            rows = [list(r) for r in res.get("rows") or []]
            colmajor = [[row[i] for row in rows] for i in range(len(names))]
            kinds, type_ids = column_kinds(colmajor, res.get("dtypes"))
        except Exception:
            # malformed answer payload (short row, non-iterable, no
            # dtypes for its columns): fall back to gate+forward
            # instead of letting the exception unwind the
            # connection pump (review r7)
            return None, True
        conn.ops[op_guid] = {
            "columns": names,
            "colmajor": colmajor,
            "kinds": kinds,
            "type_ids": type_ids,
            "n_rows": len(rows),
            "offset": 0,  # fetch cursor (FETCH_NEXT advances it)
        }
        self._bump("statements_answered")
        return encode_execute_resp(call.seqid, op_guid, secret), False

    @staticmethod
    def _op_reply(conn: _Conn, call: Call) -> Optional[bytes]:
        """The response to a request naming an operation the proxy
        answered, else None. The handle is T<method>Req field 1 →
        TOperationHandle field 1 → THandleIdentifier field 1 (guid)."""
        guid = call.get((1, 1, 1, 1), bytes)
        op = conn.ops.get(guid) if guid is not None else None
        if op is None:
            return None
        name, seqid = call.name, call.seqid
        if name == "GetOperationStatus":
            return encode_status_resp(seqid)
        if name == "GetResultSetMetadata":
            return encode_metadata_resp(seqid, op["columns"], op["type_ids"])
        if name == "FetchResults":
            # TFetchResultsReq{2: orientation, 3: maxRows, 4: fetchType}
            orient = call.get((1, 2), int) or 0
            mrows = call.get((1, 3), int) or 0
            if call.get((1, 4), int):  # operation-log fetch: empty batch
                return encode_fetch_resp(seqid, [])
            if orient not in (0, 4):
                # HiveServer2 supports only FETCH_NEXT/FETCH_FIRST and
                # raises on the rest (FetchOrientation.isSupported);
                # answering a FETCH_PRIOR with next-batch rows would
                # corrupt the client's cursor silently — mirror the
                # server's error instead
                return encode_fetch_error_resp(
                    seqid, f"Fetch orientation {orient} is not supported"
                )
            if orient == 4:  # TFetchOrientation.FETCH_FIRST: rewind —
                # HiveServer2 supports re-reading from the start (BI
                # clients use it, mid-stream included); serving empty
                # here would silently truncate the result (review r7)
                op["offset"] = 0
            # honor the client's maxRows (HiveServer2 semantics): serve
            # [offset, offset+maxRows), advance the cursor, and flag
            # hasMoreRows while rows remain — a result bigger than one
            # fetch batch paginates instead of over-filling the first
            # response (VERDICT r7 ask #4); maxRows<=0 serves the rest
            n, off = op["n_rows"], op["offset"]
            take = n - off if mrows <= 0 else min(mrows, n - off)
            take = max(take, 0)
            batch = [c[off : off + take] for c in op["colmajor"]]
            op["offset"] = off + take
            return encode_fetch_resp(
                seqid,
                batch,
                op["kinds"],
                has_more=op["offset"] < n,
                start_row=off,
            )
        if name in ("CloseOperation", "CancelOperation"):
            if name == "CloseOperation":
                conn.ops.pop(guid, None)
            return encode_status_only_resp(name, seqid)
        return None
