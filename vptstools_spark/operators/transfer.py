"""Transfer service — the engine form of the reference's `transfer_baltrad`
CLI (src/vptstools/bin/transfer_baltrad.py:94-165): SFTP listing → VP-file
filter → filename metadata parse → existence anti-join → upload.

This is orchestration, not a query (SURVEY §3.4): it runs driver-side over
*file listings* (thousands of names, not data). Clients are injected so the
logic is testable without paramiko/boto3 (neither is assumed present); any
object with the same duck-typed surface works.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass

#: `fropo_vp_20220809T051000Z_0xb` → (radar_code, year, month, day)
#: (reference: src/vptstools/bin/transfer_baltrad.py:50-69, P14)
_NAME_RE = re.compile(r"^([a-z]{5})_vp_(\d{4})(\d{2})(\d{2})T")


@dataclass(frozen=True)
class TransferItem:
    file_name: str
    radar_code: str
    year: str
    month: str
    day: str

    @property
    def destination_key(self) -> str:
        """`{radar}/{yyyy}/{mm}/{dd}/{file}` hive-like destination layout
        (reference: transfer_baltrad.py:60-69)."""
        return f"{self.radar_code}/{self.year}/{self.month}/{self.day}/{self.file_name}"


def parse_transfer_name(file_name: str) -> TransferItem | None:
    """Filename metadata parse P14; None for non-conforming names."""
    m = _NAME_RE.match(file_name)
    if not m:
        return None
    return TransferItem(file_name, m.group(1), m.group(2), m.group(3), m.group(4))


def plan_transfer(
    source_listing: Iterable[str],
    key_exists: Callable[[str], bool],
) -> list[TransferItem]:
    """Compute the upload work list: VP-file filter F3 (`_vp_` in name),
    parse P14, and the existence ANTI-JOIN (upload only keys absent at the
    destination — the reference's dedup-on-ingest,
    transfer_baltrad.py:141-163)."""
    out: list[TransferItem] = []
    for name in sorted(source_listing):
        if "_vp_" not in name:
            continue
        item = parse_transfer_name(name)
        if item is None:
            continue
        if not key_exists(item.destination_key):
            out.append(item)
    return out


def run_transfer(
    source_listing: Iterable[str],
    key_exists: Callable[[str], bool],
    download: Callable[[str], bytes],
    upload: Callable[[str, bytes], None],
    on_error: Callable[[str, Exception], None] | None = None,
) -> tuple[int, int]:
    """Execute the transfer plan with per-file error isolation
    (warn-and-continue, reference bin/vph5_to_vpts.py:198-200 pattern).
    Returns (n_uploaded, n_failed)."""
    uploaded = failed = 0
    for item in plan_transfer(source_listing, key_exists):
        try:
            upload(item.destination_key, download(item.file_name))
            uploaded += 1
        except Exception as exc:  # noqa: BLE001 — isolation boundary
            failed += 1
            if on_error is not None:
                on_error(item.file_name, exc)
    return uploaded, failed


def s3_adapters(
    bucket: str, s3_client, prefix: str = ""
) -> tuple[Callable[[str], bool], Callable[[str, bytes], None]]:
    """(key_exists, upload) over a boto3 S3 client — the wire form of K6
    (reference: src/vptstools/bin/transfer_baltrad.py:30-47, s3_key_exists +
    upload). Only a 404-class error means "absent"; any other error, such
    as a 403 from a role that may put but not head objects, propagates and
    aborts the transfer instead of re-uploading every file."""

    def key_exists(key: str) -> bool:
        try:
            s3_client.head_object(Bucket=bucket, Key=prefix + key)
            return True
        except Exception as exc:  # noqa: BLE001 — classify by error code
            code = str(
                getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            )
            if code in ("404", "NoSuchKey", "NotFound"):
                return False
            raise

    def upload(key: str, content: bytes) -> None:
        s3_client.put_object(Bucket=bucket, Key=prefix + key, Body=content)

    return key_exists, upload


def sftp_adapters(
    sftp_client,
) -> tuple[Callable[[], list[str]], Callable[[str], bytes]]:
    """(listing, download) of the working directory of a paramiko
    SFTPClient — the wire form of S8 (reference: transfer_baltrad.py:94-139).
    Duck-typed: anything exposing `listdir()` and `open(path, mode)` binds,
    so the fakes used in the unit tests and a real paramiko client share
    this path."""

    def listing() -> list[str]:
        return list(sftp_client.listdir())

    def download(name: str) -> bytes:
        with sftp_client.open(name, "rb") as fh:
            return fh.read()

    return listing, download


class ErrorNotifier:
    """Error sink of the transfer (reference: src/vptstools/bin/click_exception.py:7-97,
    which posts to SNS): collects the per-file failures as (subject, message)
    pairs for the CLI's summary."""

    def __init__(self) -> None:
        self.errors: list[tuple[str, str]] = []

    def __call__(self, context: str, exc: Exception) -> None:
        self.errors.append((f"[vptstools_spark] failure in {context}", f"{type(exc).__name__}: {exc}"))
