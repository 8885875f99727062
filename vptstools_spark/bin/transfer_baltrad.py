"""``transfer_baltrad`` — sync VP files from the BALTRAD server to storage.

Mirror of the reference CLI (reference: src/vptstools/bin/transfer_baltrad.py:
80-165): list the source directory, keep ``_vp_`` files, parse radar/date
metadata from the filename, and upload every file whose destination key does
not exist yet (dedup-on-ingest anti-join). Per-file failures warn and
continue and are listed in the run's summary (the reference posts them to
SNS); an error of the destination's existence check aborts the run.

Connectors are resolved at runtime (reference env contract preserved):

- SFTP source when ``FTP_HOST`` is set (requires paramiko — import-gated, a
  clear error otherwise): ``FTP_HOST``/``FTP_PORT``/``FTP_USERNAME``/
  ``FTP_PWD``/``FTP_DATADIR``;
- S3 destination when ``DESTINATION_BUCKET`` is set (requires boto3);
- local-filesystem source/destination via ``--source-dir``/``--dest-dir``
  (or ``VPTS_TRANSFER_SOURCE``/``VPTS_TRANSFER_DEST``) — the connector-free
  path used in tests and for any mounted storage.

The work-list logic itself (filter → parse → anti-join → copy with error
isolation) and the SFTP and S3 adapters live in ``operators.transfer``.
"""

from __future__ import annotations

import os

import click

from vptstools_spark.operators.transfer import (
    ErrorNotifier,
    run_transfer,
    s3_adapters,
    sftp_adapters,
)


def _local_connectors(source_dir: str, dest_dir: str):
    """Filesystem source/destination with the same duck-typed surface the
    SFTP/S3 connectors expose."""

    def listing() -> list[str]:
        return [
            n
            for n in os.listdir(source_dir)
            if os.path.isfile(os.path.join(source_dir, n))
        ]

    def key_exists(key: str) -> bool:
        return os.path.exists(os.path.join(dest_dir, key))

    def download(name: str) -> bytes:
        with open(os.path.join(source_dir, name), "rb") as fh:
            return fh.read()

    def upload(key: str, content: bytes) -> None:
        target = os.path.join(dest_dir, key)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        with open(target, "wb") as fh:
            fh.write(content)

    return listing, key_exists, download, upload


def _sftp_source(host: str):
    try:
        import paramiko  # noqa: PLC0415 — optional operational dependency
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise click.ClickException(
            "FTP_HOST is set but paramiko is not installed; install paramiko "
            "or use --source-dir for a mounted/local source"
        ) from exc

    port = int(os.environ.get("FTP_PORT", "22"))
    datadir = os.environ.get("FTP_DATADIR", "data")
    ssh = paramiko.SSHClient()
    ssh.set_missing_host_key_policy(paramiko.AutoAddPolicy())
    ssh.connect(
        host,
        port=port,
        username=os.environ.get("FTP_USERNAME"),
        password=os.environ.get("FTP_PWD"),
    )
    sftp = ssh.open_sftp()
    sftp.chdir(datadir)
    listing, download = sftp_adapters(sftp)
    return listing, download, ssh


def _s3_destination(bucket: str, prefix: str):
    try:
        import boto3  # noqa: PLC0415 — optional operational dependency
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise click.ClickException(
            "DESTINATION_BUCKET is set but boto3 is not installed; install "
            "boto3 or use --dest-dir for a local destination"
        ) from exc

    client = boto3.Session(
        profile_name=os.environ.get("AWS_PROFILE") or None
    ).client("s3")
    return s3_adapters(bucket, client, prefix)


@click.command()
@click.option(
    "--source-dir",
    type=str,
    default=None,
    help="Local/mounted source directory (instead of the FTP_HOST SFTP source).",
)
@click.option(
    "--dest-dir",
    type=str,
    default=None,
    help="Local/mounted destination root (instead of DESTINATION_BUCKET S3).",
)
def cli(source_dir: str | None, dest_dir: str | None) -> None:
    """Sync VP files from the BALTRAD server: transfer new ``_vp_`` files to
    the destination under ``{radar}/{yyyy}/{mm}/{dd}/{file}`` keys, skipping
    keys that already exist."""
    import datetime

    start = datetime.datetime.now()
    click.echo(f"Start transfer Baltrad sync at {start}")

    source_dir = source_dir or os.environ.get("VPTS_TRANSFER_SOURCE")
    dest_dir = dest_dir or os.environ.get("VPTS_TRANSFER_DEST")
    ftp_host = os.environ.get("FTP_HOST")
    bucket = os.environ.get("DESTINATION_BUCKET")
    prefix = os.environ.get("DESTINATION_PREFIX", "baltrad/hdf5/")

    ssh = None
    if source_dir:
        if not dest_dir and not bucket:
            raise click.UsageError("set --dest-dir or DESTINATION_BUCKET")
        listing, key_exists, download, upload = _local_connectors(
            source_dir, dest_dir or ""
        )
        if bucket:
            key_exists, upload = _s3_destination(bucket, prefix)
    elif ftp_host:
        listing, download, ssh = _sftp_source(ftp_host)
        if bucket:
            key_exists, upload = _s3_destination(bucket, prefix)
        elif dest_dir:
            _, key_exists, _, upload = _local_connectors(".", dest_dir)
        else:
            raise click.UsageError("set DESTINATION_BUCKET or --dest-dir")
    else:
        raise click.UsageError("set --source-dir or FTP_HOST")

    notifier = ErrorNotifier()
    try:
        uploaded, failed = run_transfer(
            listing(), key_exists, download, upload, on_error=notifier
        )
    finally:
        if ssh is not None:
            ssh.close()

    for subject, message in notifier.errors:
        click.echo(f"[WARNING] {subject}: {message}")
    click.echo(f"Transferred {uploaded} files ({failed} failures).")
    click.echo(
        f"File transfer from Baltrad finished, the synchronization took "
        f"{datetime.datetime.now() - start}."
    )


if __name__ == "__main__":
    cli()
