"""ommail: RFC822 message shaping + real SMTP delivery.

Reference: plugins/ommail/ommail.c —
- message format (writeMailMessage :640): ``Date:`` in the fixed SMTP
  shape (mkSMTPTimestamp :488, ``%a, %2d %b %Y %H:%M:%S +0000``, UTC),
  ``From: <addr>``, ``To: <a>, <b>`` (writeTos :544), ``Subject:``
  with raw CR/LF normalized to spaces (write_header_value :567),
  ``X-Mailer: rsyslog-ommail``, blank line, then the body with SMTP
  leading-dot escaping (bodyWrite :597 — a '.' at start of line
  doubles; line starts are tracked across CRLF only).
- dialog (sendSMTP :670): expect 220, ``HELO <localhost>`` → 250,
  ``MAIL FROM:<from>`` → 250, one ``RCPT TO:<r>`` per recipient → 250,
  ``DATA`` → 354, message + ``CRLF . CRLF`` → 250, ``QUIT`` → 221;
  a NEW connection per message ("a new connection is created for each
  request", :703) — mirrored faithfully; alerts are rare, the
  per-message dialog is the reference's own cost model.

Spark shape: ``ommail_send`` runs the dialog inside the shared
per-partition sender (:func:`rsyslog_spark.net.partition_sender`), one
connection per message like the reference. Mail sinks gate on a routed
predicate, so the input is the already-filtered alert stream — tiny by
construction. The sendmail
fork path (:978) maps to ``sinks.omprog``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from rsyslog_spark.net import send_partitions, total_sent

_DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def smtp_timestamp(epoch_s: int) -> str:
    """mkSMTPTimestamp (ommail.c:488): ``Date: %a, %2d %b %Y
    %H:%M:%S +0000`` over gmtime — day-of-month is SPACE-padded."""
    import time as _t

    tm = _t.gmtime(epoch_s)
    return (
        f"Date: {_DAYS[tm.tm_wday]}, {tm.tm_mday:2d} "
        f"{_MONTHS[tm.tm_mon - 1]} {tm.tm_year:4d} "
        f"{tm.tm_hour:02d}:{tm.tm_min:02d}:{tm.tm_sec:02d} +0000\r\n"
    )


def _header_value(value: str) -> str:
    """write_header_value (ommail.c:567): raw CR/LF → space."""
    return "".join(" " if c in "\r\n" else c for c in value)


def _escape_dots(body: str) -> str:
    """bodyWrite (ommail.c:597) with bEscapeDot: '.' at start of line
    doubles; a line start exists at offset 0 and after each CRLF pair
    (a bare LF only counts when preceded by CR — mirrored exactly)."""
    out = []
    in_sol, had_cr = True, False
    for c in body:
        if in_sol and c == ".":
            out.append(".")
        out.append(c)
        if c == "\r":
            had_cr, in_sol = True, False
        elif c == "\n":
            in_sol, had_cr = had_cr, False
        else:
            in_sol = had_cr = False
    return "".join(out)


def mail_message(
    from_addr: str,
    rcpts: list[str],
    subject: str,
    body: str,
    epoch_s: int,
    enable_body: bool = True,
    escape_dot: bool = True,
) -> bytes:
    """writeMailMessage (ommail.c:640): the full RFC822 bytes BEFORE
    the dialog's terminating CRLF-dot-CRLF."""
    hdr = (
        smtp_timestamp(epoch_s)
        + f"From: <{from_addr}>\r\n"
        + "To: " + ", ".join(f"<{r}>" for r in rcpts) + "\r\n"
        + "Subject: " + _header_value(subject) + "\r\n"
        + "X-Mailer: rsyslog-ommail\r\n\r\n"
    )
    if enable_body:
        hdr += _escape_dots(body) if escape_dot else body
    return hdr.encode("utf-8")


class _SmtpDialog:
    """One message, one connection (sendSMTP, ommail.c:670)."""

    def __init__(self, host: str, port: int, helo: str):
        self.host, self.port, self.helo = host, port, helo

    def _expect(self, f, code: int) -> None:
        line = f.readline()
        if not line.startswith(str(code).encode()):
            raise IOError(
                f"SMTP expected {code}, got {line[:80]!r} "
                "(readResponse, ommail.c:286)"
            )

    def send(self, from_addr: str, rcpts: list[str], msg: bytes) -> None:
        import socket as socketlib

        with socketlib.create_connection(
            (self.host, self.port), timeout=10.0
        ) as s, s.makefile("rb") as f:
            self._expect(f, 220)
            s.sendall(f"HELO {self.helo}\r\n".encode())
            self._expect(f, 250)
            s.sendall(f"MAIL FROM:<{from_addr}>\r\n".encode())
            self._expect(f, 250)
            for r in rcpts:
                s.sendall(f"RCPT TO:<{r}>\r\n".encode())
                self._expect(f, 250)
            s.sendall(b"DATA\r\n")
            self._expect(f, 354)
            s.sendall(msg)
            s.sendall(b"\r\n.\r\n")
            self._expect(f, 250)
            s.sendall(b"QUIT\r\n")
            self._expect(f, 221)

    def close(self) -> None:
        """Nothing held open: each message closed its own connection."""


def ommail_send(
    df: DataFrame,
    host: str,
    port: int,
    from_addr: str,
    rcpts: list[str],
    body_col: str = "value",
    subject_col: str | None = None,
    subject_text: str = "rsyslog alert",
    ts_col: str | None = None,
    enable_body: bool = True,
    helo: str = "rsyslog-spark",
) -> int:
    """Deliver each row as one SMTP transaction (the reference's
    per-message model). ``subject_col`` overrides ``subject_text``
    (subject.template vs subject.text, ommail.c:141-142);
    ``enable_body=False`` is the SMS-gateway mode (bEnableBody :131).
    ``ts_col`` (epoch seconds) keeps the Date header deterministic;
    without it the current time is stamped per message. Returns the
    number of messages sent."""
    import time as _t

    cols = [body_col] + ([subject_col] if subject_col else []) + (
        [ts_col] if ts_col else []
    )

    def send(dialog: _SmtpDialog, pdf: pd.DataFrame) -> tuple[int]:
        for _, row in pdf.iterrows():
            subject = str(row[subject_col]) if subject_col else subject_text
            epoch = int(row[ts_col]) if ts_col else int(_t.time())
            msg = mail_message(
                from_addr, rcpts, subject, str(row[body_col]),
                epoch, enable_body=enable_body,
            )
            dialog.send(from_addr, rcpts, msg)
        return (len(pdf),)

    return total_sent(send_partitions(
        df.select(*cols), lambda: _SmtpDialog(host, port, helo), send,
        "n_sent long",
    ))
