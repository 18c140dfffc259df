"""WARC ingestion — Common-Crawl's native archive format as a source.

BASELINE.json's input_hint is an Iceberg table of Common-Crawl-style
pages (url, warc_ts, html, ...); real Common-Crawl data arrives as WARC
archives (ISO 28500: `WARC/1.0` + header block + Content-Length-framed
body per record). This module turns a directory of WARC files into that
table shape with a dependency-free parser:

    read_warc(spark, "s3-or-local/*.warc") -> (url, warc_ts, html)

Scale shape: one WARC file = one task (``binaryFiles`` keeps each
archive whole — WARC records are length-framed, not line-framed, so an
archive cannot be split without an index; Common-Crawl's ~1 GB-per-file
layout makes file-granular parallelism the standard approach, and the
fan-out is #files, i.e. ~100k tasks at 100 TB). Parsing is per-partition
Python over bytes (no row-at-a-time UDF); the result is written once to
parquet/Iceberg and every downstream query runs on the columnar table.

Only ``response`` records become pages; the embedded HTTP envelope is
stripped (body after the first CRLFCRLF when it starts with HTTP/).
write_warc() is the inverse, used by tests for byte-level round-trips.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

def _parse_warc_bytes(
    blob: bytes, want_type: str = "response"
) -> Iterator[tuple[str, str, bytes]]:
    """Yield (target_uri, warc_date, body) for each record of
    ``want_type`` — "response" (WARC: raw HTTP captures) or "conversion"
    (WET: the extracted-text sibling format Common-Crawl publishes).
    Transparently inflates gzip archives (.warc.gz — multi-member
    streams, how Common-Crawl actually ships) and raises on content
    that is recognizably not WARC instead of yielding an empty table."""
    if blob[:2] == b"\x1f\x8b":
        import gzip

        blob = gzip.decompress(blob)  # handles concatenated members
    if blob and blob.find(b"WARC/") < 0:
        raise ValueError("not a WARC archive (no WARC/ record header found)")
    i, n = 0, len(blob)
    while i < n:
        head_start = blob.find(b"WARC/", i)
        if head_start < 0:
            break
        head_end = blob.find(b"\r\n\r\n", head_start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[head_start:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii", "ignore")] = (
                v.strip().decode("utf-8", "ignore")
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # unframed record: cannot resync safely, and silently dropping
            # the remaining records would contradict the raise-on-
            # truncation policy above (partial ingestion must be visible)
            raise ValueError(
                "WARC record without a numeric Content-Length "
                f"(at byte {head_start}): cannot frame the archive"
            ) from None
        if length < 0:
            raise ValueError("negative Content-Length in WARC record")
        body_start = head_end + 4
        if body_start + length > n:
            # truncated archive (partial download): raising beats
            # yielding a silently-clamped body as a valid page
            raise ValueError("truncated WARC record (Content-Length past EOF)")
        body = blob[body_start : body_start + length]
        i = body_start + length
        if headers.get("warc-type") == want_type:
            # the HTTP envelope exists ONLY in response records; a WET
            # conversion payload that happens to BEGIN with 'HTTP/' (a
            # page quoting a raw HTTP exchange) must not be stripped
            if want_type == "response" and body[:5] == b"HTTP/":
                sep = body.find(b"\r\n\r\n")
                if sep >= 0:
                    body = body[sep + 4 :]
            uri = headers.get("warc-target-uri", "")
            if uri:
                yield uri, headers.get("warc-date", ""), body


def _read_records(
    spark: SparkSession,
    path_glob: str,
    want_type: str,
    body_map,
    body_field: str,
) -> DataFrame:
    """Shared ingestion shape for both archive flavors: one archive per
    task (file-granular parallelism), generator pipelining (a task never
    holds every record body of a ~1 GB archive at once), raise on
    unframed/truncated content."""
    from pyspark.sql import functions as F

    files = spark.sparkContext.binaryFiles(path_glob)

    def parse(kv):
        _, blob = kv
        for uri, date, body in _parse_warc_bytes(bytes(blob), want_type=want_type):
            yield uri, date, body_map(body)

    rows = files.flatMap(parse)
    raw = spark.createDataFrame(
        rows, f"url STRING, warc_date STRING, {body_field}"
    )
    return raw.select(
        "url",
        F.to_timestamp(F.col("warc_date")).alias("warc_ts"),
        raw.columns[2],
    )


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Read WARC archives into the input_hint page-table shape."""
    return _read_records(
        spark, path_glob, "response", lambda b: b, "html BINARY"
    )


def _record_bytes(
    record_type: str,
    url: str,
    iso_date: str,
    body: bytes,
    http_envelope: bool,
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """One serialized WARC record (the framing _parse_warc_bytes reads
    back); response records get the HTTP envelope Common-Crawl captures
    carry, conversion (WET) records the bare payload. ``extra_headers``
    adds named WARC headers (revisit records carry WARC-Refers-To-* and
    WARC-Payload-Digest)."""
    if http_envelope:
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + record_type.encode() + b"\r\n"
        b"WARC-Target-URI: " + url.encode() + b"\r\n"
        b"WARC-Date: " + iso_date.encode() + b"\r\n"
    )
    for k, v in (extra_headers or {}).items():
        headers += k.encode() + b": " + v.encode() + b"\r\n"
    headers += b"Content-Length: " + str(len(body)).encode() + b"\r\n"
    return headers + b"\r\n" + body + b"\r\n\r\n"


def write_warc(rows: list[tuple[str, str, bytes]], path: str) -> str:
    """Serialize (url, iso_date, html) rows into one WARC file (test
    fixture generator and the inverse of read_warc; bodies get the HTTP
    response envelope Common-Crawl response records carry)."""
    with open(path, "wb") as f:
        for url, date, html in rows:
            f.write(_record_bytes("response", url, date, html, True))
    return path


def _export_records(
    df: DataFrame,
    out_dir: str,
    record_type: str,
    suffix: str,
    to_bytes,
    http_envelope: bool,
    compress: bool,
) -> DataFrame:
    """Shared DISTRIBUTED archive sink: each partition streams its rows
    into one shard file (record-at-a-time — a task never holds its whole
    shard in memory) and yields a one-row manifest. The manifest
    DataFrame is LAZY: collecting it is what runs the export (the
    foreachPartition-style custom-sink shape kept inside the DataFrame
    API so callers get paths/counts back as data). Shard names carry a
    uuid so a retried task never clobbers a finished shard — the
    manifest names the surviving files; at cluster scale this seam is
    where a real commit protocol (Iceberg/Hadoop committer) slots in.
    Empty partitions write nothing and emit no manifest row."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    # null-safe over arbitrary caller DataFrames (public API): a null
    # body/url defaults to empty (typed, so binary stays binary), a null
    # timestamp to the export time — otherwise to_bytes / iso_date.encode
    # would raise mid-shard on the executor
    iso = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    body_type = df.schema[df.columns[2]].dataType
    sel = df.select(
        F.coalesce(F.col(df.columns[0]), F.lit("")).alias("url"),
        F.coalesce(
            F.date_format(F.col(df.columns[1]), iso),
            F.date_format(F.current_timestamp(), iso),
        ).alias("d"),
        F.coalesce(
            F.col(df.columns[2]), F.lit("").cast(body_type)
        ).alias("body"),
    )

    def run(batches):
        import gzip
        import uuid

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(
            out_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}{suffix}"
        )
        f = None
        n = 0
        for pdf in batches:
            if len(pdf) and f is None:
                f = gzip.open(path, "wb") if compress else open(path, "wb")
            for url, d, body in zip(pdf["url"], pdf["d"], pdf["body"]):
                f.write(
                    _record_bytes(record_type, url, d, to_bytes(body), http_envelope)
                )
                n += 1
        if f is not None:
            f.close()
            yield pd.DataFrame(
                [{"path": path, "n_records": n, "n_bytes": os.path.getsize(path)}]
            )

    return sel.mapInPandas(run, "path STRING, n_records LONG, n_bytes LONG")


def export_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    compress: bool = True,
) -> DataFrame:
    """Distributed WARC EXPORT — the write half of the Common-Crawl
    round trip (read_warc ∘ export_warc ≡ identity on (url, ts, html),
    pytest-verified): (url, warc_ts, html) partitions become
    ``part-NNNNN-xxxx.warc[.gz]`` response-record shards. Returns the
    lazy manifest DataFrame (path, n_records, n_bytes); collect it to
    run the export."""
    from pyspark.sql import functions as F

    sel = df.select(url_col, ts_col, F.col(html_col).cast("binary"))
    return _export_records(
        sel,
        out_dir,
        "response",
        ".warc.gz" if compress else ".warc",
        lambda b: bytes(b),
        True,
        compress,
    )


def export_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    compress: bool = True,
) -> DataFrame:
    """Distributed WET export (conversion records, bare utf-8 text
    payloads) — inverse of read_wet, same sink shape as export_warc."""
    sel = df.select(url_col, ts_col, text_col)
    return _export_records(
        sel,
        out_dir,
        "conversion",
        ".warc.wet.gz" if compress else ".warc.wet",
        lambda t: t.encode("utf-8"),
        False,
        compress,
    )


def read_wet(spark: SparkSession, path_glob: str) -> DataFrame:
    """Read WET archives (WARC *conversion* records — the extracted-text
    sibling format Common-Crawl publishes beside every WARC) into
    (url, warc_ts, text): the `documents`-style table a training-data
    pipeline starts from when it skips HTML parsing. Same framing and
    robustness rules as read_warc (shared reader)."""
    return _read_records(
        spark,
        path_glob,
        "conversion",
        lambda b: b.decode("utf-8", "replace"),
        "text STRING",
    )


def write_wet(rows: list[tuple[str, str, str]], path: str) -> str:
    """Serialize (url, iso_date, text) rows into one WET file (fixture
    generator / inverse of read_wet; conversion records carry the bare
    text payload, no HTTP envelope)."""
    with open(path, "wb") as f:
        for url, date, text in rows:
            f.write(_record_bytes("conversion", url, date, text.encode("utf-8"), False))
    return path


def revisit_plan(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Classify captures into WARC ``response`` vs ``revisit`` records —
    the archive-write content dedup Heritrix and Common Crawl apply
    (WARC 1.1 §6.7.2, profile "identical payload digest"): the FIRST
    capture of each payload digest (order: ts, then url) is stored in
    full; every later identical capture is a zero-body revisit record
    pointing at it. At CC scale this is the difference between storing
    a boilerplate page once vs millions of times.

    Input must be unique on (url, ts). Adds ``record_type`` and
    ``refers_to_url`` ('' on responses, the keeper's url on revisits).

    Scale shape: one map-side-combined min(struct(ts, url)) aggregate
    keyed on digest plus one equi-join back on digest — never a window,
    so a mega-digest (one boilerplate body captured 10^6 times) costs a
    combinable min, not a single-partition sort."""
    from pyspark.sql import functions as F

    # NULL digests (md5 of a NULL payload) would never equi-join back and
    # their captures silently vanish from the export (ADVICE r06) —
    # coalesce to a sentinel so null-payload captures dedup as one group
    cap = captures.withColumn(
        "__dg", F.coalesce(F.col(digest_col), F.lit("__null_digest__"))
    )
    f = F.struct(F.col(ts_col).alias("__ts"), F.col(url_col).alias("__url"))
    firsts = cap.groupBy("__dg").agg(F.min(f).alias("__f"))
    joined = cap.join(firsts, "__dg")
    is_first = (F.col(ts_col) == F.col("__f.__ts")) & (
        F.col(url_col) == F.col("__f.__url")
    )
    return joined.select(
        *captures.columns,
        F.when(is_first, F.lit("response")).otherwise(F.lit("revisit")).alias(
            "record_type"
        ),
        F.when(is_first, F.lit("")).otherwise(F.col("__f.__url")).alias(
            "refers_to_url"
        ),
    )


def export_warc_dedup(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    compress: bool = True,
) -> DataFrame:
    """WARC export with revisit dedup: the first capture of each payload
    digest is written as a full response record; every later identical
    capture becomes a zero-body ``revisit`` record carrying
    WARC-Refers-To-Target-URI and WARC-Payload-Digest (md5 here — the
    spec says which algorithm via the digest's label prefix).
    ``read_warc`` on the output returns exactly the keeper pages;
    revisit records are recoverable from the same files by record type.
    Same distributed sink shape as export_warc (per-partition streamed
    shards, lazy manifest)."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    digest = F.concat(F.lit("md5:"), F.md5(F.col(html_col).cast("binary")))
    planned = revisit_plan(
        df.withColumn("__digest", digest), url_col, ts_col, "__digest"
    )
    iso = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    sel = planned.select(
        F.coalesce(F.col(url_col), F.lit("")).alias("url"),
        F.coalesce(
            F.date_format(F.col(ts_col), iso),
            F.date_format(F.current_timestamp(), iso),
        ).alias("d"),
        F.coalesce(F.col(html_col).cast("binary"), F.lit(b"")).alias("body"),
        F.col("__digest").alias("digest"),
        "record_type",
        "refers_to_url",
    )
    suffix = ".warc.gz" if compress else ".warc"

    def run(batches):
        import gzip
        import uuid

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(
            out_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}{suffix}"
        )
        f = None
        n = n_rev = 0
        for pdf in batches:
            if len(pdf) and f is None:
                f = gzip.open(path, "wb") if compress else open(path, "wb")
            for url, d, body, dg, rt, ref in zip(
                pdf["url"], pdf["d"], pdf["body"], pdf["digest"],
                pdf["record_type"], pdf["refers_to_url"],
            ):
                if rt == "revisit":
                    f.write(
                        _record_bytes(
                            "revisit", url, d, b"", False,
                            {
                                "WARC-Refers-To-Target-URI": ref,
                                "WARC-Payload-Digest": dg,
                                "WARC-Profile": "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
                            },
                        )
                    )
                    n_rev += 1
                else:
                    f.write(
                        _record_bytes(
                            "response", url, d, bytes(body), True,
                            {"WARC-Payload-Digest": dg},
                        )
                    )
                n += 1
        if f is not None:
            f.close()
            yield pd.DataFrame(
                [{
                    "path": path,
                    "n_records": n,
                    "n_revisits": n_rev,
                    "n_bytes": os.path.getsize(path),
                }]
            )

    return sel.mapInPandas(
        run, "path STRING, n_records LONG, n_revisits LONG, n_bytes LONG"
    )
