"""Source-agnosticism (S1): the JSONL and WARC/WET/WAT readers produce the
same frames as the parquet path — extraction output is byte-identical
across sources — and corrupt archives become error rows, never raises."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine import sources
from engine.pipeline import run_fused


def test_jsonl_pages_extract_byte_identical(spark, pages_unit_path, tmp_path):
    pages_pq = spark.read.parquet(pages_unit_path)
    jl = str(tmp_path / "pages_jsonl")
    sources.write_pages_jsonl(pages_pq, jl)
    pages_jl = sources.read_pages_jsonl(spark, jl)

    def by_url(df):
        return {
            r["url"]: (r["extracted_text"], r["status"], r["n_kept"])
            for r in run_fused(df).collect()
        }

    a, b = by_url(pages_pq), by_url(pages_jl)
    assert a == b and len(a) == 64


def test_jsonl_binary_roundtrip_exact(spark, pages_unit_path, tmp_path):
    """base64 interchange must round-trip the raw html bytes exactly
    (sha-compared JVM-side)."""
    pages_pq = spark.read.parquet(pages_unit_path)
    jl = str(tmp_path / "pages_jsonl2")
    sources.write_pages_jsonl(pages_pq, jl)
    pages_jl = sources.read_pages_jsonl(spark, jl)
    sha = lambda df: {  # noqa: E731
        r["url"]: r["h"]
        for r in df.select("url", F.sha2("html", 256).alias("h")).collect()
    }
    assert sha(pages_pq) == sha(pages_jl)


def test_orc_sink_roundtrip(spark, tmp_path):
    """ORC as an alternate columnar sink (JVM-native, zero extra deps):
    extracted rows round-trip exactly — a reference user migrating between
    warehouse formats keeps byte identity."""
    from engine.pipeline import run_extract

    # reuse the documents-as-pages adapter from the entry module
    import __spark_entry__ as em

    pg = em.pages_from_documents(spark, "/root/testdata/sf0.001").limit(50)
    out = run_extract(pg, mode="fused").select(
        "url", "extracted_text", "n_blocks", "n_kept", "status"
    )
    orc = str(tmp_path / "extracted_orc")
    out.write.mode("overwrite").orc(orc)
    back = spark.read.orc(orc)
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b and len(a) == 50


def _pages_rows(spark, pages_unit_path):
    return [
        (r["url"], r["warc_ts"], bytes(r["html"]), r["lang"])
        for r in spark.read.parquet(pages_unit_path).collect()
    ]


def test_warc_roundtrip_byte_identical(spark, pages_unit_path, tmp_path):
    """VERDICT r3 #3: the parquet fixture written as real multi-member
    .warc.gz (one gzip member per record, split over several archives) and
    read back must carry identical url/warc_ts/html/lang — and extraction
    over the WARC-read pages is byte-identical to the parquet path."""
    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)
    sources.write_pages_warc(rows, wd, records_per_file=17)
    got = sources.read_pages_warc(spark, wd)
    assert got.filter("status != 'ok'").count() == 0
    back = {
        r["url"]: (r["warc_ts"], bytes(r["html"]), r["lang"])
        for r in got.collect()
    }
    assert back == {u: (ts, h, lg) for u, ts, h, lg in rows}

    def by_url(df):
        return {
            r["url"]: (r["extracted_text"], r["status"], r["n_kept"])
            for r in run_fused(df).collect()
        }

    assert by_url(spark.read.parquet(pages_unit_path)) == by_url(
        got.where("status = 'ok'").select("url", "warc_ts", "html", "lang")
    )


def test_warc_corrupt_and_foreign_records(spark, pages_unit_path, tmp_path):
    """Corrupt gzip members -> ONE error row per corrupt region, and the
    scan RESYNCS on the next gzip member magic (r5, VERDICT r4 #5) so the
    archive's tail is recovered; warcinfo/request records are skipped."""
    import gzip

    from datetime import datetime

    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)[:6]
    sources.write_pages_warc(rows[:3], wd)

    info = b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    good = sources.encode_warc_record(
        "https://after.example/x", datetime(2026, 1, 2, 3, 4, 5), b"<p>ok</p>", "en"
    )
    bad_then_good = gzip.compress(info) + b"\x1f\x8b\x08CORRUPT" + gzip.compress(good)
    with open(f"{wd}/part-zz.warc.gz", "wb") as f:
        f.write(bad_then_good)

    got = sources.read_pages_warc(spark, wd).collect()
    ok = [r for r in got if r["status"] == "ok"]
    errs = [r for r in got if r["status"] != "ok"]
    assert len(errs) == 1 and errs[0]["status"] == "error:corrupt gzip member"
    assert errs[0]["url"].endswith("part-zz.warc.gz")
    # the good record AFTER the corrupt member is RECOVERED by the resync
    assert {r["url"] for r in ok} == {u for u, *_ in rows[:3]} | {
        "https://after.example/x"
    }


def test_warc_plain_scan_resyncs_past_corrupt_member(spark, pages_unit_path, tmp_path):
    """VERDICT r4 #5 done-criterion: corrupt a member in the MIDDLE of a
    plain (non-indexed) archive — every subsequent record still parses,
    with exactly one typed error row for the corrupt member, and the
    recovered records stay byte-identical to the parquet originals."""
    import zlib

    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)[:9]
    sources.write_pages_warc(rows, wd)  # single archive, member-per-record

    path = f"{wd}/part-00000.warc.gz"
    blob = open(path, "rb").read()
    # locate member boundaries by walking the stream, then corrupt the 4th
    offs, pos = [], 0
    while pos < len(blob):
        offs.append(pos)
        d = zlib.decompressobj(wbits=31)
        d.decompress(blob[pos:])
        pos = len(blob) - len(d.unused_data)
    victim = offs[3]
    mut = bytearray(blob)
    mut[victim + 3 : victim + 11] = b"\xde\xad\xbe\xef\xde\xad\xbe\xef"
    open(path, "wb").write(bytes(mut))

    got = sources.read_pages_warc(spark, wd).collect()
    ok = {r["url"]: (r["warc_ts"], bytes(r["html"]), r["lang"]) for r in got
          if r["status"] == "ok"}
    errs = [r for r in got if r["status"] != "ok"]
    assert len(errs) == 1 and errs[0]["status"] == "error:corrupt gzip member"
    want = {u: (ts, bytes(h), lg) for u, ts, h, lg in rows}
    lost = rows[3][0]
    assert ok == {u: v for u, v in want.items() if u != lost}


def test_warc_truncated_and_malformed_records(spark, tmp_path):
    import gzip

    from datetime import datetime

    wd = str(tmp_path / "warc2")
    __import__("os").makedirs(wd)
    rec = sources.encode_warc_record(
        "https://t.example/1", datetime(2026, 1, 1), b"<p>x</p>", "en"
    )
    cases = [
        gzip.compress(rec[: len(rec) // 2]),      # truncated record body
        gzip.compress(b"NOTWARC\r\n\r\nrest"),     # bad magic
        gzip.compress(
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
            b"Content-Length: 5\r\n\r\nhello\r\n\r\n"
        ),                                         # response without WARC-Date
    ]
    for i, blob in enumerate(cases):
        with open(f"{wd}/c{i}.warc.gz", "wb") as f:
            f.write(blob)
    got = sources.read_pages_warc(spark, wd).collect()
    assert len(got) == 3
    assert all(r["status"].startswith("error:") for r in got)


def test_warc_indexed_read_matches_streaming(spark, pages_unit_path, tmp_path):
    """The cdx-style offset index: indexed read == streaming read on the
    same archives, with record-level parallelism (index rows repartition)."""
    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)
    sources.write_pages_warc_indexed(rows, wd, records_per_file=13)

    stream = {
        (r["url"], r["warc_ts"], bytes(r["html"]), r["lang"])
        for r in sources.read_pages_warc(spark, wd).collect()
    }
    indexed_df = sources.read_pages_warc_indexed(spark, wd, num_partitions=6)
    assert indexed_df.rdd.getNumPartitions() == 6  # per-record parallelism
    indexed = {
        (r["url"], r["warc_ts"], bytes(r["html"]), r["lang"])
        for r in indexed_df.collect()
    }
    assert indexed == stream == {tuple([u, ts, h, lg]) for u, ts, h, lg in rows}


def test_warc_indexed_isolates_corrupt_member(spark, pages_unit_path, tmp_path):
    """With the index, a corrupt member in the MIDDLE of an archive costs
    exactly one error row — the records after it still decode (the
    streaming scan, by contrast, loses the archive's tail; pinned in
    test_warc_corrupt_and_foreign_records)."""
    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)[:9]
    sources.write_pages_warc_indexed(rows, wd)  # single archive

    import json

    idx = [json.loads(ln) for ln in open(f"{wd}/index.cdxj")]
    victim = idx[4]
    with open(f"{wd}/{victim['file']}", "r+b") as f:
        f.seek(victim["offset"] + 3)
        f.write(b"\xde\xad\xbe\xef")

    got = sources.read_pages_warc_indexed(spark, wd).collect()
    ok = {r["url"] for r in got if r["status"] == "ok"}
    errs = [r for r in got if r["status"] != "ok"]
    assert len(errs) == 1 and str(victim["offset"]) in errs[0]["url"]
    assert ok == {u for u, *_ in rows} - {victim["url"]}


def test_warc_indexed_missing_sidecar_clear_error(spark, tmp_path):
    import os

    import pytest as _pytest

    wd = str(tmp_path / "noidx")
    os.makedirs(wd)
    with _pytest.raises(FileNotFoundError, match="index.cdxj"):
        sources.read_pages_warc_indexed(spark, wd)


def test_warc_indexed_corrupt_index_entries_are_error_rows(spark, pages_unit_path, tmp_path):
    """Index entries pointing at wrong offsets/lengths (stale or corrupt
    cdxj) must surface as error rows, never task failures."""
    import json
    import os

    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)[:6]
    sources.write_pages_warc_indexed(rows, wd)
    idx = [json.loads(ln) for ln in open(f"{wd}/index.cdxj")]
    # entry 1: offset shifted mid-member; entry 2: length truncated
    idx[1]["offset"] += 7
    idx[2]["length"] //= 2
    with open(f"{wd}/index.cdxj", "w") as f:
        for rec in idx:
            f.write(json.dumps(rec) + "\n")
    got = sources.read_pages_warc_indexed(spark, wd).collect()
    ok = {r["url"] for r in got if r["status"] == "ok"}
    errs = [r for r in got if r["status"] != "ok"]
    assert len(errs) == 2 and all(r["status"].startswith("error:") for r in errs)
    assert ok == {u for u, *_ in rows} - {idx[1]["url"], idx[2]["url"]}


def test_warc_resync_mutation_fuzz():
    """Bounded fuzz of the r5 resync path (no Spark — _parse_stream
    directly): random byte mutations / truncations / injections into a
    10-member archive must never raise, never duplicate a record, and
    every record reported 'ok' with an original url must be byte-identical
    to what was written (corruption may lose records, never corrupt one
    into a different payload for the same url silently — the urls
    themselves live in the mutated bytes, so a mutated url is a new key)."""
    import gzip
    import random

    from datetime import datetime

    recs = {
        f"https://f{i}.example/p": (b"<p>%d</p>" % i) * (i + 1)
        for i in range(10)
    }
    blob = b"".join(
        gzip.compress(
            sources.encode_warc_record(u, datetime(2026, 1, 1), h, "en")
        )
        for u, h in recs.items()
    )
    rng = random.Random(42)
    for trial in range(300):
        mut = bytearray(blob)
        op = trial % 3
        if op == 0:  # flip a run of bytes
            at = rng.randrange(len(mut))
            for j in range(at, min(len(mut), at + rng.randrange(1, 16))):
                mut[j] = rng.randrange(256)
        elif op == 1:  # truncate
            mut = mut[: rng.randrange(1, len(mut))]
        else:  # inject noise (incl. fake gzip magics)
            at = rng.randrange(len(mut))
            noise = bytes(
                rng.choice(b"\x1f\x8b\x08\x00\xffCORRUPT")
                for _ in range(rng.randrange(1, 64))
            )
            mut = mut[:at] + noise + mut[at:]
        out = list(sources._parse_stream(bytes(mut), "fuzz", "response"))  # no raise
        ok = [(u, h) for u, ts, h, lg, st in out if st == "ok"]
        urls = [u for u, _ in ok]
        assert len(urls) == len(set(urls)), f"trial {trial}: duplicated record"
        for u, h in ok:
            if u in recs:
                assert bytes(h) == recs[u], f"trial {trial}: payload corrupted"


def test_warc_indexed_missing_archive_and_traversal_are_error_rows(
    spark, pages_unit_path, tmp_path
):
    """ADVICE r4: an index entry naming a missing archive must be an error
    row (not an unhandled FileNotFoundError failing the task), and a 'file'
    field that escapes the archive dir via ../ traversal is rejected."""
    import json

    wd = str(tmp_path / "warc")
    rows = _pages_rows(spark, pages_unit_path)[:6]
    sources.write_pages_warc_indexed(rows, wd)
    # a secret outside the archive dir that traversal must NOT read
    secret = tmp_path / "secret.warc.gz"
    secret.write_bytes(b"\x1f\x8b\x08garbage")

    idx = [json.loads(ln) for ln in open(f"{wd}/index.cdxj")]
    idx[1]["file"] = "gone-00042.warc.gz"
    idx[2]["file"] = "../secret.warc.gz"
    idx[3]["offset"] = None  # JSON null -> pandas NaN: must not crash int()
    idx[4]["length"] = -1  # negative read would duplicate the archive tail
    with open(f"{wd}/index.cdxj", "w") as f:
        for rec in idx:
            f.write(json.dumps(rec) + "\n")

    got = sources.read_pages_warc_indexed(spark, wd).collect()
    ok = {r["url"] for r in got if r["status"] == "ok"}
    by_status = {}
    for r in got:
        if r["status"] != "ok":
            by_status.setdefault(r["status"], []).append(r["url"])
    assert sorted(by_status) == [
        "error:bad index offset/length",
        "error:index path escapes archive dir",
        "error:missing archive",
    ], by_status
    assert len(by_status["error:bad index offset/length"]) == 2
    assert by_status["error:index path escapes archive dir"][0].startswith("..")
    bad = {idx[i]["url"] for i in (1, 2, 3, 4)}
    assert ok == {u for u, *_ in rows} - bad
    assert len(got) == len(rows)  # no duplicated tail records


def test_wet_roundtrip_is_byte_identical_extraction(spark, pages_unit_path, tmp_path):
    """r5 WET export: extraction output written as WARC conversion records
    (.warc.wet.gz) reads back with byte-identical text, timestamps, and
    langs — the engine is a drop-in WET producer/consumer."""
    from engine import pipeline

    pages = spark.read.parquet(pages_unit_path)
    ext = {
        r["url"]: r["extracted_text"]
        for r in pipeline.run_fused(pages).collect()
    }
    meta = {
        r["url"]: (r["warc_ts"], r["lang"])
        for r in pages.select("url", "warc_ts", "lang").collect()
    }
    rows = [(u, meta[u][0], ext[u], meta[u][1]) for u in sorted(ext)]
    wd = str(tmp_path / "wet")
    sources.write_pages_wet(rows, wd, records_per_file=7)

    got = sources.read_pages_wet(spark, wd).collect()
    assert all(r["status"] == "ok" for r in got)
    back = {r["url"]: (r["warc_ts"], r["text"], r["lang"]) for r in got}
    assert back == {u: (ts, t, lg) for u, ts, t, lg in rows}


def test_wet_reader_skips_foreign_and_resyncs(spark, pages_unit_path, tmp_path):
    """WET reader: warcinfo/response records in the archive are skipped,
    and a corrupt member costs one typed error row with the tail
    recovered (shared member walk)."""
    import gzip

    from datetime import datetime

    wd = str(tmp_path / "wet")
    rows = [
        (f"https://wet{i}.example/p", datetime(2026, 2, 1, 0, 0, i),
         f"text number {i} with some words", "en")
        for i in range(6)
    ]
    blob = bytearray()
    info = b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    blob += gzip.compress(info)
    resp = sources.encode_warc_record(
        "https://resp.example/x", datetime(2026, 2, 1), b"<p>html</p>", "en"
    )
    blob += gzip.compress(resp)  # response record: not WET content
    for i, (u, ts, t, lg) in enumerate(rows):
        member = gzip.compress(sources.encode_wet_record(u, ts, t, lg))
        if i == 3:
            member = bytearray(member)
            member[3:11] = b"\xde\xad\xbe\xef\xde\xad\xbe\xef"
            member = bytes(member)
        blob += member
    __import__("os").makedirs(wd)
    with open(f"{wd}/part-00000.warc.wet.gz", "wb") as f:
        f.write(bytes(blob))

    got = sources.read_pages_wet(spark, wd).collect()
    ok = {r["url"]: r["text"] for r in got if r["status"] == "ok"}
    errs = [r for r in got if r["status"] != "ok"]
    assert len(errs) == 1 and errs[0]["status"] == "error:corrupt gzip member"
    assert ok == {u: t for j, (u, ts, t, lg) in enumerate(rows) if j != 3}


def test_wet_distributed_writer_matches_driver_writer(spark, pages_unit_path, tmp_path):
    """r5: the distributed WET export (one archive per partition, no
    driver collect, task-retry-safe tmp+rename) reads back identical
    records to the driver-side fixture writer on the same rows."""
    from datetime import datetime

    rows = [
        (f"https://d{i}.example/p", datetime(2026, 3, 1, 0, 0, i),
         f"wet text {i} alpha beta", "en" if i % 2 else None)
        for i in range(23)
    ]
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    sources.write_pages_wet(rows, a_dir, records_per_file=5)

    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).repartition(4)
    manifest = sources.write_pages_wet_distributed(df, b_dir).collect()
    assert sum(m["n_records"] for m in manifest) == 23
    assert len(manifest) <= 4 and all(
        m["file"].endswith(".warc.wet.gz") for m in manifest
    )

    def back(d):
        return {
            (r["url"], r["warc_ts"], r["text"], r["lang"])
            for r in sources.read_pages_wet(spark, d).collect()
        }

    assert back(a_dir) == back(b_dir) == set(rows)


def test_warc_and_wet_records_carry_deterministic_record_id(tmp_path):
    """ADVICE r5: WARC-Record-ID is a mandatory WARC/1.0 named field —
    both encoders emit it, derived deterministically from (url, warc_ts)
    so identical inputs still produce byte-identical archives."""
    import re
    from datetime import datetime

    ts = datetime(2026, 3, 1, 12, 0, 0)
    for enc, payload in (
        (sources.encode_warc_record, b"<html>x</html>"),
        (sources.encode_wet_record, "x"),
    ):
        a = enc("https://rid.example/p", ts, payload, "en")
        b = enc("https://rid.example/p", ts, payload, "en")
        assert a == b  # deterministic: twins stay byte-identical
        m = re.search(rb"WARC-Record-ID: <urn:uuid:([0-9a-f-]{36})>\r\n", a)
        assert m, a[:200]
        # ADVICE r6: strict WARC/CDX consumers require WELL-FORMED UUIDs —
        # the deterministic id must carry RFC 4122 v3 version/variant bits
        # (uuid3 semantics), not a raw md5 digest dressed as a urn:uuid
        import uuid as _uuid

        rid = _uuid.UUID(m.group(1).decode())
        assert rid.version == 3, rid
        assert rid.variant == _uuid.RFC_4122, rid
        other = enc("https://rid.example/q", ts, payload, "en")
        assert m.group(1) not in other  # distinct per (url, ts)


def test_wat_roundtrip_outlinks_and_title(spark, pages_unit_path, tmp_path):
    """r6 WAT export: pages written as WARC metadata records
    (.warc.wat.gz) read back with payloads whose Links/Head sections
    equal a direct DOM walk of the same html — the engine completes the
    Common Crawl WARC/WET/WAT triple."""
    import json

    from extraction.html_clean import decode_html
    from extraction.outlinks import page_links

    rows = [(u, ts, h) for u, ts, h, _ in _pages_rows(spark, pages_unit_path)]
    wd = str(tmp_path / "wat")
    sources.write_pages_wat(rows, wd, records_per_file=7)

    got = sources.read_pages_wat(spark, wd).collect()
    assert all(r["status"] == "ok" for r in got)
    assert {r["url"] for r in got} == {u for u, _, _ in rows}
    html_by_url = {u: h for u, _, h in rows}
    for r in got:
        env = json.loads(r["payload"])["Envelope"]
        assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == r["url"]
        hm = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
        links, title = page_links(decode_html(html_by_url[r["url"]]))
        assert [l["url"] for l in hm["Links"]] == links
        if title is not None:
            assert hm["Head"]["Title"] == title


def test_wat_distributed_writer_matches_driver_writer(
    spark, pages_unit_path, tmp_path
):
    """The no-collect per-partition WAT writer and the driver writer
    produce archives that read back identically (same payload per url)."""
    rows = [(u, ts, h) for u, ts, h, _ in _pages_rows(spark, pages_unit_path)]
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    sources.write_pages_wat(rows, a_dir, records_per_file=5)
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    ).repartition(3)
    manifest = sources.write_pages_wat_distributed(df, b_dir).collect()
    assert sum(m["n_records"] for m in manifest) == len(rows)
    assert all(m["file"].endswith(".warc.wat.gz") for m in manifest)
    back = [
        {
            (r["url"], r["warc_ts"], r["payload"], r["status"])
            for r in sources.read_pages_wat(spark, d).collect()
        }
        for d in (a_dir, b_dir)
    ]
    assert back[0] == back[1]


def test_outlinks_robust_to_hostile_markup():
    """The WAT DOM walk must not be fooled by script bodies, comments,
    entities, self-closing anchors, or href-less <a> tags."""
    from extraction.outlinks import page_links

    html = (
        "<html><head><title>T &amp; U</title></head><body>"
        '<script>var s = \'<a href="/fake">\';</script>'
        '<!-- <a href="/commented">no</a> -->'
        '<a href="/real?a=1&amp;b=2">one</a>'
        "<a name=anchor>no href</a>"
        '<a href="/self"/><a href=/unquoted>u</a>'
        '<a data-x="y" href="/second-attr">s</a></body></html>'
    )
    links, title = page_links(html)
    assert links == ["/real?a=1&b=2", "/self", "/unquoted", "/second-attr"]
    assert title == "T & U"
    # never raises on garbage
    assert page_links("<a href=<<<" * 50)[0] == []


def test_wet_wat_resync_mutation_fuzz():
    """r6 VERDICT #8: the WARC mutation fuzz extended to the WET
    conversion-record and WAT metadata-record parsers — 300 random
    mutations each must never raise, never duplicate an ok record, and
    every ok record keyed by an original url carries the exact payload
    written for it."""
    import gzip
    import random
    from datetime import datetime

    ts = datetime(2026, 1, 1)
    wet_src = {
        f"https://w{i}.example/p": f"text {i} body " * (i + 1)
        for i in range(10)
    }
    wet_blob = b"".join(
        gzip.compress(sources.encode_wet_record(u, ts, t, "en"))
        for u, t in wet_src.items()
    )
    wat_src = {
        f"https://m{i}.example/p": sources.build_wat_payload(
            f"https://m{i}.example/p",
            ts,
            b'<html><title>t</title><a href="/x%d">x</a></html>' % i,
        )
        for i in range(10)
    }
    wat_blob = b"".join(
        gzip.compress(sources.encode_wat_record(u, ts, p))
        for u, p in wat_src.items()
    )
    cases = [
        (wet_blob, "conversion", {u: t for u, t in wet_src.items()}),
        (
            wat_blob,
            "metadata",
            {u: p.decode() for u, p in wat_src.items()},
        ),
    ]
    rng = random.Random(7)
    for blob, kind, want in cases:
        for trial in range(300):
            mut = bytearray(blob)
            op = trial % 3
            if op == 0:
                at = rng.randrange(len(mut))
                for j in range(at, min(len(mut), at + rng.randrange(1, 16))):
                    mut[j] = rng.randrange(256)
            elif op == 1:
                mut = mut[: rng.randrange(1, len(mut))]
            else:
                at = rng.randrange(len(mut))
                noise = bytes(
                    rng.choice(b"\x1f\x8b\x08\x00\xffCORRUPT")
                    for _ in range(rng.randrange(1, 64))
                )
                mut = mut[:at] + noise + mut[at:]
            out = list(sources._parse_stream(bytes(mut), "fuzz", kind))  # no raise
            ok = [(t[0], t[2]) for t in out if t[-1] == "ok"]
            urls = [u for u, _ in ok]
            assert len(urls) == len(set(urls)), f"trial {trial}: duplicate"
            for u, payload in ok:
                if u in want:
                    assert payload == want[u], f"trial {trial}: corrupted"
