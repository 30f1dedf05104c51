"""Redis RESP wire protocol + omhiredis / imhiredis seams.

Built from the PUBLIC Redis serialization-protocol spec (RESP2,
redis.io/docs/reference/protocol-spec) — no client library in the
sandbox, so the codec is hand-rolled and exercised against a loopback
RESP peer in tests, the same pattern as kafka_wire / relp.

Reference semantics:
  contrib/omhiredis/omhiredis.c:61-420   (5 modes → Redis commands)
  contrib/imhiredis/imhiredis.c          (queue dequeue: pipelined
                                          RPOP/LPOP batches)
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame

from rsyslog_spark.net import send_partitions

# ---------------------------------------------------------------------------
# RESP2 codec
# ---------------------------------------------------------------------------


def resp_encode_command(*args: str | bytes | int) -> bytes:
    """Client → server command: array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        if isinstance(a, int):
            a = str(a)
        b = a.encode("utf-8") if isinstance(a, str) else a
        out.append(b"$%d\r\n" % len(b))
        out.append(b)
        out.append(b"\r\n")
    return b"".join(out)


class RespError(Exception):
    """Server `-ERR …` reply."""


def resp_parse(buf: bytes, pos: int = 0):
    """Parse ONE RESP value at ``pos`` → (value, new_pos). Simple
    strings → str, errors → RespError instance, integers → int, bulk
    strings → bytes (None for $-1), arrays → list (None for *-1).
    Raises IndexError when the buffer is incomplete (caller reads
    more and retries)."""
    eol = buf.index(b"\r\n", pos)
    kind, payload = buf[pos:pos + 1], buf[pos + 1:eol]
    pos = eol + 2
    if kind == b"+":
        return payload.decode("utf-8"), pos
    if kind == b"-":
        return RespError(payload.decode("utf-8")), pos
    if kind == b":":
        return int(payload), pos
    if kind == b"$":
        n = int(payload)
        if n == -1:
            return None, pos
        if len(buf) < pos + n + 2:
            raise IndexError("incomplete bulk string")
        return buf[pos:pos + n], pos + n + 2
    if kind == b"*":
        n = int(payload)
        if n == -1:
            return None, pos
        items = []
        for _ in range(n):
            v, pos = resp_parse(buf, pos)
            items.append(v)
        return items, pos
    raise ValueError(f"bad RESP type byte {kind!r}")


def _read_reply(sock: socket.socket, buf: bytearray):
    """Read exactly one reply from the socket (buffering leftovers)."""
    while True:
        try:
            v, pos = resp_parse(bytes(buf))
        except (IndexError, ValueError):
            chunk = sock.recv(65536)
            if not chunk:
                raise ConnectionError("redis peer closed mid-reply")
            buf.extend(chunk)
            continue
        del buf[:pos]
        return v


# ---------------------------------------------------------------------------
# omhiredis — mode → command argv (omhiredis.c:381-418)
# ---------------------------------------------------------------------------


def omhiredis_command(
    message: str,
    mode: str = "queue",
    key: str = "rsyslog",
    use_rpush: bool = False,
    expiration: int = 0,
    stream_outfield: str = "msg",
    stream_capacity: int = 0,
) -> list[str]:
    """One message → Redis command argv, per omhiredis's mode switch:
    template (the rendered message IS the command), queue
    (LPUSH/RPUSH), publish, set/setex, stream (XADD, optionally
    ``MAXLEN ~ n``)."""
    if mode == "template":
        return message.split(" ")
    if mode == "queue":
        return [("RPUSH" if use_rpush else "LPUSH"), key, message]
    if mode == "publish":
        return ["PUBLISH", key, message]
    if mode == "set":
        if expiration > 0:
            return ["SETEX", key, str(expiration), message]
        return ["SET", key, message]
    if mode == "stream":
        if stream_capacity:
            return ["XADD", key, "MAXLEN", "~", str(stream_capacity),
                    "*", stream_outfield, message]
        return ["XADD", key, "*", stream_outfield, message]
    raise ValueError(f"omhiredis mode {mode!r} invalid")


class _RespPipeline:
    """One partition's RESP connection with its unanswered-command
    count: replies are drained ``size`` commands at a time."""

    def __init__(self, host: str, port: int, size: int) -> None:
        self.sock = socket.create_connection((host, port), timeout=10.0)
        self.buf = bytearray()
        self.size = size
        self.pending = 0

    def drain(self) -> tuple[int, int]:
        """Read every pending reply → (n_ok, n_errors)."""
        n_ok = n_err = 0
        while self.pending:
            v = _read_reply(self.sock, self.buf)
            self.pending -= 1
            if isinstance(v, RespError):
                n_err += 1
            else:
                n_ok += 1
        return n_ok, n_err

    def close(self) -> None:
        self.sock.close()


def omhiredis_deliver(
    df: DataFrame,
    host: str,
    port: int,
    value_col: str = "value",
    mode: str = "queue",
    key: str = "rsyslog",
    pipeline_size: int = 64,
    **cmd_kwargs,
) -> DataFrame:
    """Executor-side delivery: one RESP connection per partition
    (:func:`rsyslog_spark.net.partition_sender`), commands pipelined
    ``pipeline_size`` at a time (the reference pipelines via
    redisAppendCommand and drains replies in tryHiredisAgain). Returns
    a per-partition report (n_sent, n_errors)."""

    def send(pipe: _RespPipeline, pdf) -> tuple[int, int]:
        n_ok = n_err = 0
        for v in pdf[value_col].tolist():
            argv = omhiredis_command(v, mode=mode, key=key, **cmd_kwargs)
            pipe.sock.sendall(resp_encode_command(*argv))
            pipe.pending += 1
            if pipe.pending >= pipe.size:
                ok, err = pipe.drain()
                n_ok, n_err = n_ok + ok, n_err + err
        return n_ok, n_err

    return send_partitions(
        df, lambda: _RespPipeline(host, port, pipeline_size), send,
        "n_sent long, n_errors long", finish=_RespPipeline.drain,
    )


# ---------------------------------------------------------------------------
# imhiredis — queue dequeue (imhiredis.c redisDequeue)
# ---------------------------------------------------------------------------


def imhiredis_dequeue(
    spark,
    host: str,
    port: int,
    key: str = "rsyslog",
    use_lpop: bool = False,
    batchsize: int = 10,
    max_messages: int | None = None,
) -> DataFrame:
    """Queue-mode dequeue: pipeline ``batchsize`` RPOPs (LPOPs when
    ``uselpop``, imhiredis.c:415,536) per round until the list is
    empty (nil reply) or ``max_messages`` is reached. Driver-side
    micro-ingest (a single queue is inherently serial in the
    reference too — one connection drains it); the result lands in a
    DataFrame for the distributed pipeline."""
    cmd = "LPOP" if use_lpop else "RPOP"
    msgs: list[str] = []
    buf = bytearray()
    with socket.create_connection((host, port), timeout=10.0) as sock:
        done = False
        while not done:
            n = batchsize
            if max_messages is not None:
                n = min(n, max_messages - len(msgs))
                if n <= 0:
                    break
            sock.sendall(resp_encode_command(cmd, key) * n)
            for _ in range(n):
                v = _read_reply(sock, buf)
                if v is None:
                    done = True
                elif isinstance(v, RespError):
                    raise ConnectionError(f"imhiredis: {v}")
                else:
                    # a non-nil AFTER a nil in the same pipelined round
                    # means a producer raced us — the pop already
                    # happened, so dropping it would lose the message
                    msgs.append(
                        v.decode("utf-8") if isinstance(v, bytes) else v
                    )
    return spark.createDataFrame(
        [(m,) for m in msgs], "value string"
    ) if msgs else spark.createDataFrame([], "value string")
