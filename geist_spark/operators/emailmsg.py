"""RFC 5322 email / mbox parsing for mail corpora.

Mail archives (public-inbox dumps, list archives, the classic corpora)
are a standing text source; this parses them with the stdlib `email`
package under `policy.default` (which handles RFC 2047 encoded-word
headers and MIME decoding) plus an mbox splitter for the
one-file-many-messages layout.

Per message: from/to/subject headers (decoded), the Date header as an
ISO-8601 string (email.utils parsing), the first text/plain body
(decoded per its declared charset), a has_html flag, part and
attachment counts and the attachment filenames. Dialect notes: to_addrs
joins multiple recipients with '; '; body text is the FIRST text/plain
leaf in walk order; a missing Date (or one that does not parse) is
NULL, not an error (real archives are full of them); messages with no
text/plain leaf surface body NULL.

Two-tier errors (operators/records.py): payloads that do not start
with a header line or an mbox 'From ' separator are a capability
limit; the stdlib parser is lenient by design, so the malformed tier
only covers structural impossibilities (empty payload, mbox with zero
messages).

The decoder family's one Arrow stage, message fan-out inside the
batch (the warc_parse shape). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import email
import email.policy
import email.utils
import re

from pyspark.sql import DataFrame

from geist_spark.operators.bucketing import fan_out
from geist_spark.operators.records import payload_stage

EMAIL_SCHEMA = (
    "file_id long, msg_idx int, from_addr string, to_addrs string, "
    "subject string, date_iso string, n_parts int, n_attachments int, "
    "attachment_names string, has_html boolean, body_text string"
)

_HDR_RE = re.compile(rb"^[!-9;-~]+:")  # RFC 5322 field-name then ':'


def _split_mbox(b: bytes):
    """Split an mbox payload on 'From ' separator lines."""
    msgs = []
    start = None
    pos = 0
    for line in b.split(b"\n"):
        if line.startswith(b"From "):
            if start is not None:
                msgs.append(b[start : pos - 1])
            start = pos + len(line) + 1
        pos += len(line) + 1
    if start is not None:
        msgs.append(b[start:])
    return msgs


def _parse_one(raw: bytes) -> dict:
    msg = email.message_from_bytes(raw, policy=email.policy.default)
    out = {
        "from_addr": msg.get("From"),
        "to_addrs": None,
        "subject": msg.get("Subject"),
        "date_iso": None,
        "n_parts": 0,
        "n_attachments": 0,
        "attachment_names": None,
        "has_html": False,
        "body_text": None,
    }
    tos = msg.get_all("To") or []
    if tos:
        out["to_addrs"] = "; ".join(str(t) for t in tos)
    d = msg.get("Date")
    if d:
        try:
            out["date_iso"] = email.utils.parsedate_to_datetime(
                d
            ).isoformat()
        except (TypeError, ValueError):
            pass
    names = []
    for part in msg.walk():
        if part.is_multipart():
            continue
        out["n_parts"] += 1
        ctype = part.get_content_type()
        fname = part.get_filename()
        disp = part.get_content_disposition()
        if disp == "attachment" or (
            fname and disp != "inline" and ctype not in
            ("text/plain", "text/html")
        ):
            out["n_attachments"] += 1
            if fname:
                names.append(fname)
            continue
        if ctype == "text/html":
            out["has_html"] = True
        elif ctype == "text/plain" and out["body_text"] is None:
            try:
                out["body_text"] = part.get_content()
            except (LookupError, UnicodeDecodeError, KeyError):
                payload = part.get_payload(decode=True) or b""
                out["body_text"] = payload.decode("utf-8", "replace")
    if names:
        out["attachment_names"] = "; ".join(names)
    return out


def email_parse(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    mbox: str = "auto",
    on_unsupported: str = "error",
) -> DataFrame:
    """Email payloads -> one row per message. mbox: 'auto' (sniff the
    'From ' separator), 'always', 'never'."""
    if mbox not in ("auto", "always", "never"):
        raise ValueError("mbox must be auto/always/never")

    def decode(b: bytes, fid) -> list:
        is_mbox = mbox == "always" or (
            mbox == "auto" and b.startswith(b"From ")
        )
        if not is_mbox and not _HDR_RE.match(b):
            raise NotImplementedError(
                "payload is neither an RFC 5322 message nor an mbox"
            )
        msgs = _split_mbox(b) if is_mbox else [b]
        if not msgs:
            raise ValueError(
                f"malformed mbox ({id_col}={fid}): 'From ' "
                "separator with no messages"
            )
        return [(i, *_parse_one(raw).values()) for i, raw in enumerate(msgs)]

    # policy.default parsing costs ~2.5 ms per message: widen a
    # single-split input before the Arrow stage or every message in a
    # small file parses on one core (no-op on healthy wide scans).
    # The id rides along as decode's second argument for the malformed
    # mbox message.
    return payload_stage(
        fan_out(files), decode, EMAIL_SCHEMA, on_unsupported,
        in_col=payload_col, id_col=id_col, null_row=False,
        extra_cols=(id_col,),
    )
