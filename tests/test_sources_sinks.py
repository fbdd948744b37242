"""Round-trip tests for readers/sinks and the offline Spotify connector
(reference pipeline semantics without network)."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata06_spark.sinks import collapse_arrays_for_csv, write_csv, write_parquet
from bigdata06_spark.sources.readers import read_csv, read_json
from bigdata06_spark.sources.spotify import (
    fetch_tracks_for_ids,
    flatten_tracks,
    paginate,
    search_artists,
)


def test_csv_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", -2.0)], schema=schema)
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = read_csv(spark, path, schema)
    assert sorted(back.collect()) == sorted(df.collect())


def test_parquet_partitioned_sink(spark, tmp_path):
    df = spark.createDataFrame([(1, "x", "2024-01"), (2, "y", "2024-02")], ["id", "v", "dt"])
    path = str(tmp_path / "pq_out")
    write_parquet(df, path, partition_by=["dt"])
    assert os.path.isdir(os.path.join(path, "dt=2024-01"))
    back = spark.read.parquet(path)
    assert back.count() == 2


def test_json_reader_nested(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("meta", T.StructType([T.StructField("n", T.LongType())])),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    p = tmp_path / "rows.json"
    with open(p, "w") as f:
        f.write(json.dumps({"id": "a", "meta": {"n": 3}, "tags": ["x", "y"]}) + "\n")
    df = read_json(spark, str(p), schema)
    row = df.select(F.col("meta.n").alias("n"), F.size("tags").alias("t")).first()
    assert (row.n, row.t) == (3, 2)


def test_collapse_arrays_for_csv(spark):
    df = spark.createDataFrame([(["a", "b"],)], ["genres"])
    out = collapse_arrays_for_csv(df).first()
    assert out.genres == "a, b"


# ---- offline Spotify connector (fixture fetcher, no network) ----


def _fixture_fetcher(endpoint, params):
    if endpoint == "search":
        genre = params["q"]
        return {
            "artists": {
                "items": [
                    {
                        "id": f"ar_{abs(hash(genre)) % 100}",
                        "name": f"Artist {genre[:12]}",
                        "popularity": 80,
                        "followers": {"total": 1000},
                        "genres": ["pop"],
                        "images": [{"url": "http://img/1"}],
                    },
                    {  # duplicate id across genres → dedup downstream
                        "id": "ar_dup",
                        "name": "Dup Artist",
                        "popularity": 50,
                        "followers": None,
                        "genres": None,
                        "images": [],
                    },
                ]
            }
        }
    if endpoint == "tracks":
        ids = params["ids"].split(",")
        return {
            "tracks": [
                {"id": i, "name": f"t{i}", "popularity": 10, "duration_ms": 60000} for i in ids
            ]
        }
    if endpoint == "playlist_items":
        offset = params["offset"]
        if offset >= 120:
            return {"items": []}
        n = min(params["limit"], 120 - offset)
        return {"items": [{"pos": offset + i} for i in range(n)]}
    raise AssertionError(f"unexpected endpoint {endpoint}")


def test_search_artists_flatten_and_defaults(spark):
    df = search_artists(spark, _fixture_fetcher, genres=["pop", "rock"])
    rows = {r.id: r for r in df.collect()}
    assert rows["ar_dup"].followers == 0  # None → 0 default (Spotify_API.py:82-84)
    assert rows["ar_dup"].image_url == ""
    assert rows["ar_dup"].genres == []
    assert df.count() == 4  # 2 genres × 2 artists, dedup is downstream's job


def test_fetch_tracks_batched_mapinpandas(spark):
    ids = spark.createDataFrame([(f"t{i}",) for i in range(7)], ["id"])

    # defined locally so cloudpickle serializes it BY VALUE to executors
    def tracks_fetcher(endpoint, params):
        assert endpoint == "tracks"
        return {
            "tracks": [
                {"id": i, "name": f"t{i}", "popularity": 10, "duration_ms": 60000}
                for i in params["ids"].split(",")
            ]
        }

    out = fetch_tracks_for_ids(ids, tracks_fetcher, batch_size=3)
    got = sorted(r.id for r in out.collect())
    assert got == sorted(f"t{i}" for i in range(7))


def test_pagination_until_short_page():
    items = paginate(_fixture_fetcher, "playlist_items", {}, page_size=50)
    assert len(items) == 120  # 50 + 50 + 20 (short page stops)


def test_flatten_tracks_ragged_dates(spark):
    payloads = [
        {
            "id": "t1",
            "name": "Song",
            "popularity": 5,
            "duration_ms": 61000,
            "explicit": None,
            "album": {"name": "Al", "release_date": "1999"},
            "artists": [{"id": "a1", "name": "A One"}],
        }
    ]
    row = flatten_tracks(spark, payloads).first()
    assert row.artist_id == "a1" and row.explicit is False and row.release_date == "1999"


def _fake_transport(calls, expire_after=None):
    """Transport double: serves tokens, expires them after
    `expire_after` API calls (forcing a 401 → S3 retry path)."""
    state = {"token_gen": 0, "api_calls": 0}

    def transport(url, params, headers):
        calls.append((url, dict(params), dict(headers)))
        if url.endswith("/api/token"):
            state["token_gen"] += 1
            return 200, {"access_token": f"tok{state['token_gen']}"}
        state["api_calls"] += 1
        expired = expire_after is not None and state["api_calls"] > expire_after \
            and headers["Authorization"] == "Bearer tok1"
        if expired:
            return 401, {}
        return 200, {"artists": {"items": []}, "ok": True}

    return transport


def test_fetcher_token_and_market_default():
    from bigdata06_spark.sources.spotify import SpotifyFetcher

    calls = []
    f = SpotifyFetcher("cid", "secret", _fake_transport(calls), sleep=lambda s: None)
    out = f("search", {"q": "genre:pop"})
    assert out == {"artists": {"items": []}, "ok": True}
    token_calls = [c for c in calls if c[0].endswith("/api/token")]
    assert len(token_calls) == 1  # S2: one client-credentials fetch
    assert token_calls[0][2]["Authorization"].startswith("Basic ")
    api_call = [c for c in calls if "/v1/" in c[0]][0]
    assert api_call[1]["market"] == "US"  # market defaulting (Spotify_API3.py:57-60)
    assert api_call[2]["Authorization"] == "Bearer tok1"
    # explicit market not overridden
    f("search", {"q": "x", "market": "ID"})
    assert [c for c in calls if "/v1/" in c[0]][-1][1]["market"] == "ID"


def test_fetcher_401_refresh_retry():
    from bigdata06_spark.sources.spotify import SpotifyFetcher

    calls = []
    f = SpotifyFetcher("cid", "secret", _fake_transport(calls, expire_after=1),
                       sleep=lambda s: None)
    assert f("tracks", {"ids": "a"}) is not None   # call 1: tok1 valid
    assert f("tracks", {"ids": "b"}) is not None   # call 2: 401 → refresh → retry
    token_calls = [c for c in calls if c[0].endswith("/api/token")]
    assert len(token_calls) == 2  # S3: exactly one refresh
    assert [c for c in calls if "/v1/" in c[0]][-1][2]["Authorization"] == "Bearer tok2"


def test_fetcher_throttle_min_interval():
    from bigdata06_spark.sources.spotify import SpotifyFetcher

    slept, clock = [], iter([float(i) * 0.1 for i in range(100)])
    f = SpotifyFetcher("cid", "secret", _fake_transport([]), min_interval=0.5,
                       sleep=slept.append, clock=lambda: next(clock))
    f("tracks", {"ids": "a"})
    f("tracks", {"ids": "b"})
    assert slept and 0 < slept[0] <= 0.5  # S7: second call waits out the interval


def test_first_nonempty_fallback(spark):
    from bigdata06_spark.sources.spotify import first_nonempty

    empty = spark.createDataFrame([], "id string")
    full = spark.createDataFrame([("x",)], "id string")
    fired = []

    def never():
        fired.append(True)
        return full

    out = first_nonempty(lambda: empty, lambda: full, never)
    assert out.count() == 1
    assert not fired  # S10: later alternatives not evaluated


def test_orc_roundtrip(spark, tmp_path):
    from bigdata06_spark.sinks import write_orc
    from bigdata06_spark.sources.readers import read_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25)], "id long, name string, v double"
    )
    p = str(tmp_path / "orc_out")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_jsonl_quarantine_pattern(spark, tmp_path):
    """Good lines parse into the struct; a malformed line survives with
    rec = null instead of vanishing."""
    from pyspark.sql import types as T
    from bigdata06_spark.sources.readers import read_jsonl_text

    p = tmp_path / "corpus.jsonl"
    p.write_text('{"doc_id": 1, "text": "hello"}\nnot json at all\n{"doc_id": 2, "text": "world"}\n')
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    rows = read_jsonl_text(spark, str(p), schema).collect()
    parsed = sorted((r.rec.doc_id, r.rec.text) for r in rows if r.rec is not None and r.rec.doc_id is not None)
    bad = [r.raw for r in rows if r.rec is None or r.rec.doc_id is None]
    assert parsed == [(1, "hello"), (2, "world")]
    assert bad == ["not json at all"]


def test_parquet_partition_pruning_on_reread(spark, tmp_path):
    """The 100 TB point of a partitioned sink: a filter on the partition
    column must become a PartitionFilter (directory pruning — no data
    files of other partitions opened), not a row-level data filter."""
    from tests.test_plans import plan_of

    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 7 AS STRING) AS dt")
    path = str(tmp_path / "pq_part")
    write_parquet(df, path, partition_by=["dt"])
    back = spark.read.parquet(path).filter(F.col("dt") == "3")
    plan = plan_of(back)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), plan
    assert back.count() == len([i for i in range(1000) if i % 7 == 3])


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning — the at-scale companion of static
    pruning: when a partitioned fact joins a dim filtered on a
    NON-partition column, the fact's partition filter is only known at
    runtime; Spark injects a DynamicPruningExpression fed by the dim's
    broadcast, so only the joined partitions' files are read."""
    from tests.test_plans import plan_of

    fact = spark.range(0, 20000).selectExpr(
        "id", "id % 100 AS amount", "CAST(id % 20 AS STRING) AS dt"
    )
    path = str(tmp_path / "pq_dpp")
    write_parquet(fact, path, partition_by=["dt"])
    dim = spark.createDataFrame(
        [(str(i), "keep" if i < 3 else "drop") for i in range(20)], "dt string, status string"
    )
    f = spark.read.parquet(path)
    j = (
        f.join(dim.filter(F.col("status") == "keep"), "dt")
        .groupBy("dt")
        .agg(F.sum("amount").alias("s"))
    )
    plan = plan_of(j)
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 3


def test_sorted_parquet_files_cover_disjoint_ranges(spark, tmp_path):
    """write_sorted_parquet must produce files whose key ranges don't
    overlap (range partitioning) and are internally sorted — the
    property that lets parquet min/max stats skip whole files on key
    predicates."""
    import glob

    from bigdata06_spark.sinks import write_sorted_parquet

    df = spark.range(0, 10000).selectExpr("CAST(id * 7919 % 10000 AS BIGINT) AS k", "id AS v")
    path = str(tmp_path / "pq_sorted")
    write_sorted_parquet(df, path, ["k"], n_files=8)
    ranges = []
    for f in sorted(glob.glob(path + "/part-*.parquet")):
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf) == 0:
            continue
        assert (pdf["k"].diff().dropna() >= 0).all(), f"{f} not internally sorted"
        ranges.append((pdf["k"].min(), pdf["k"].max()))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({hi1} > {lo2})"


def test_parquet_merge_schema_across_generations(spark, tmp_path):
    """Schema evolution on read: two parquet generations (the second
    adds a column) read as one relation with mergeSchema — old rows
    surface the new column as null, the batch analogue of
    unionByName(allowMissingColumns)."""
    path = str(tmp_path / "pq_evolve")
    spark.range(0, 10).selectExpr("id", "id * 2 AS a").write.parquet(path + "/gen=1")
    spark.range(10, 20).selectExpr("id", "id * 2 AS a", "'x' AS b").write.parquet(
        path + "/gen=2"
    )
    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "a", "b", "gen"}
    assert merged.count() == 20
    assert merged.filter(F.col("b").isNull()).count() == 10


# ----------------------------------------------------- live HTTP transport


class _StubSpotifyServer:
    """In-process HTTP stub of the Spotify surface the fetcher touches:
    POST /api/token (client-credentials), GET /v1/search (market +
    auth-checked), GET /v1/albums (offset/limit pagination over 120
    items). Tokens expire after `expire_after` API calls to force the
    401 → refresh → retry path over a real socket."""

    def __init__(self, expire_after=None):
        import threading
        from http.server import BaseHTTPRequestHandler, HTTPServer
        from urllib.parse import parse_qs, urlparse

        state = {"token_gen": 0, "api_calls": 0, "log": []}
        self.state = state
        outer_expire = expire_after

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def _json(self, status, payload):
                import json as _json

                body = _json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                form = parse_qs(self.rfile.read(n).decode())
                state["log"].append(("POST", self.path, form, dict(self.headers)))
                if self.path == "/api/token":
                    if form.get("grant_type") != ["client_credentials"]:
                        return self._json(400, {"error": "unsupported_grant_type"})
                    if not self.headers.get("Authorization", "").startswith("Basic "):
                        return self._json(401, {"error": "invalid_client"})
                    state["token_gen"] += 1
                    return self._json(200, {"access_token": f"tok{state['token_gen']}"})
                return self._json(404, {})

            def do_GET(self):
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                state["log"].append(("GET", u.path, q, dict(self.headers)))
                state["api_calls"] += 1
                auth = self.headers.get("Authorization", "")
                stale = (
                    outer_expire is not None
                    and state["api_calls"] > outer_expire
                    and auth == "Bearer tok1"
                )
                if not auth.startswith("Bearer tok") or stale:
                    return self._json(401, {"error": {"status": 401}})
                if u.path == "/v1/search":
                    return self._json(
                        200,
                        {"artists": {"items": [{"id": "a1", "name": "N",
                                                "market": q.get("market")}]}},
                    )
                if u.path == "/v1/albums":
                    off, lim = int(q.get("offset", 0)), int(q.get("limit", 50))
                    items = [{"id": f"alb{i}"} for i in range(off, min(off + lim, 120))]
                    return self._json(200, {"items": items})
                return self._json(404, {})

        self._srv = HTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    def urls(self):
        base = f"http://127.0.0.1:{self.port}"
        return f"{base}/api/token", f"{base}/v1"

    def close(self):
        self._srv.shutdown()
        self._srv.server_close()


def _live_fetcher(server, transport):
    from bigdata06_spark.sources.spotify import SpotifyFetcher

    token_url, api_base = server.urls()
    return SpotifyFetcher("cid", "secret", transport, min_interval=0.0,
                          sleep=lambda s: None, token_url=token_url, api_base=api_base)


def test_http_transport_live_lifecycle():
    """S1-S3 over a real socket: token POST (Basic auth, form-encoded
    grant), authorized GET with market defaulting, and on expiry a
    401 → one refresh → retried call with the new token."""
    from bigdata06_spark.sources.spotify import http_transport

    srv = _StubSpotifyServer(expire_after=1)
    try:
        f = _live_fetcher(srv, http_transport())
        out = f("search", {"q": 'genre:"pop"'})
        assert out["artists"]["items"][0] == {"id": "a1", "name": "N", "market": "US"}
        out2 = f("search", {"q": "x"})  # stale tok1 → 401 → refresh → tok2
        assert out2 is not None
        assert srv.state["token_gen"] == 2
        last_get = [e for e in srv.state["log"] if e[0] == "GET"][-1]
        assert last_get[3]["Authorization"] == "Bearer tok2"
        token_posts = [e for e in srv.state["log"] if e[0] == "POST"]
        assert all(p[2]["grant_type"] == ["client_credentials"] for p in token_posts)
    finally:
        srv.close()


def test_http_transport_pagination_live():
    """S5 against the stub server: offset/limit pages of 50 over a
    120-item collection → 3 GETs, 120 items, loop stops on short page."""
    from bigdata06_spark.sources.spotify import http_transport, paginate

    srv = _StubSpotifyServer()
    try:
        f = _live_fetcher(srv, http_transport())
        items = paginate(f, "albums", {}, page_size=50)
        assert [i["id"] for i in items] == [f"alb{i}" for i in range(120)]
        gets = [e for e in srv.state["log"] if e[0] == "GET"]
        assert [int(g[2]["offset"]) for g in gets] == [0, 50, 100]
    finally:
        srv.close()


def test_http_transport_urllib_fallback(monkeypatch):
    """The stdlib-urllib path (requests unimportable) speaks the same
    wire protocol: token POST + authorized GET round-trip."""
    import sys

    from bigdata06_spark.sources import spotify as sp

    monkeypatch.setitem(sys.modules, "requests", None)  # import → ImportError
    srv = _StubSpotifyServer()
    try:
        f = _live_fetcher(srv, sp.http_transport())
        out = f("search", {"q": "x"})
        assert out["artists"]["items"][0]["id"] == "a1"
        assert srv.state["token_gen"] == 1
    finally:
        srv.close()


def test_http_transport_connection_error_is_sentinel():
    """Transport-level failure (nothing listening) surfaces as a non-200
    → the fetcher returns the None sentinel, matching the reference's
    ConnectionError handling."""
    from bigdata06_spark.sources.spotify import SpotifyFetcher, http_transport

    f = SpotifyFetcher("cid", "secret", http_transport(timeout=0.5), min_interval=0.0,
                       sleep=lambda s: None,
                       token_url="http://127.0.0.1:9/api/token",
                       api_base="http://127.0.0.1:9/v1")
    assert f("search", {"q": "x"}) is None


def test_flatten_playlists_payload_shapes(spark):
    """Playlist payload flatten (Spotify_API4.py:259-271): nested owner
    lifted, absent followers → 0, empty images → '', missing
    external_urls → '', public stays nullable, collaborative defaults
    False."""
    from bigdata06_spark.sources.spotify import flatten_playlists

    payloads = [
        {
            "id": "p1", "name": "Hits", "description": "d",
            "owner": {"id": "u1", "display_name": "User One"},
            "followers": {"total": 42}, "tracks": {"total": 7},
            "images": [{"url": "http://img/1"}, {"url": "http://img/2"}],
            "external_urls": {"spotify": "http://open/p1"},
            "public": True, "collaborative": None,
        },
        {
            "id": "p2", "name": "Bare", "description": None,
            "owner": {"id": "u2", "display_name": None},
            "followers": None, "tracks": {"total": 0},
            "images": [], "external_urls": None,
            "public": None, "collaborative": True,
        },
    ]
    rows = {r.id: r for r in flatten_playlists(spark, payloads).collect()}
    p1, p2 = rows["p1"], rows["p2"]
    assert (p1.owner_id, p1.owner_name, p1.followers) == ("u1", "User One", 42)
    assert (p1.image_url, p1.spotify_url) == ("http://img/1", "http://open/p1")
    assert (p1.public, p1.collaborative) == (True, False)  # None → False default
    assert (p2.followers, p2.image_url, p2.spotify_url) == (0, "", "")
    assert p2.public is None and p2.collaborative is True


def test_flatten_categories_payload_shapes(spark):
    """Category flatten (Spotify_API3.py:290-303): first-icon URL with
    '' default when icons is empty."""
    from bigdata06_spark.sources.spotify import flatten_categories

    payloads = [
        {"id": "c1", "name": "Pop", "icons": [{"url": "http://icon/1"}]},
        {"id": "c2", "name": "Rock", "icons": []},
    ]
    rows = {r.id: r for r in flatten_categories(spark, payloads).collect()}
    assert rows["c1"].icon_url == "http://icon/1"
    assert rows["c2"].icon_url == ""


def test_binary_file_ingestion_end_to_end(spark, tmp_path):
    """Real-asset multimodal ingestion: files on disk → binaryFile scan
    → (doc_id, payload, meta) adaptation with magic-byte sniffing →
    the SAME decode and checksum stages the synthetic path uses."""
    from bigdata06_spark.operators.multimodal import (
        checksum_media,
        decode_media,
        payloads_from_files,
    )
    from bigdata06_spark.sources.readers import read_binary_files

    d = tmp_path / "assets"
    d.mkdir()
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    wav = b"RIFF" + b"\x00\x01" * 8
    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x07" * 9
    (d / "a.png").write_bytes(png)
    (d / "b.wav").write_bytes(wav)
    (d / "c.mp4").write_bytes(mp4)
    (d / "notes.txt").write_bytes(b"hello")

    files = read_binary_files(spark, str(d))
    assert files.count() == 4
    only_png = read_binary_files(spark, str(d), glob="*.png")
    assert only_png.count() == 1

    assets = payloads_from_files(files)
    rows = {r.meta.media_type for r in assets.collect()}
    assert rows == {"image/png", "audio/wav", "video/mp4", "application/octet-stream"}

    decoded = {r.media_type: r for r in decode_media(assets).collect()}
    assert decoded["image/png"].byte_len == len(png)
    assert decoded["audio/wav"].n_frames == 1 + len(wav) % 1000

    sums = {r.byte_len: r.byte_sum for r in checksum_media(assets).collect()}
    assert sums[len(wav)] == sum(wav)


def test_datasource_partition_pruning():
    """pushFilters prunes the genre partition list (one REST call per
    surviving genre) and returns non-genre filters as unsupported."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from bigdata06_spark.sources.spotify_datasource import SpotifyArtistsReader

    r = SpotifyArtistsReader({"transport": "fixture"})
    leftover = list(r.pushFilters([EqualTo(("genre",), "pop"), GreaterThan(("popularity",), 10)]))
    assert [p.genre for p in r.partitions()] == ["pop"]
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)

    r2 = SpotifyArtistsReader({"transport": "fixture"})
    assert list(r2.pushFilters([In(("genre",), ("rock", "edm"))])) == []
    assert [p.genre for p in r2.partitions()] == ["rock", "edm"]


def test_datasource_live_http_from_executors(spark):
    """The custom source with transport=http: every genre partition does
    the full token/GET lifecycle against the stub server FROM AN
    EXECUTOR PROCESS — the distributed-ingestion contract (no driver
    fetch loop)."""
    from bigdata06_spark.sources import spotify_datasource as DS

    srv = _StubSpotifyServer()
    try:
        token_url, api_base = srv.urls()
        DS.register(spark)
        df = (
            spark.read.format("spotify")
            .option("transport", "http")
            .option("genres", "pop,rock")
            .option("client_id", "cid")
            .option("client_secret", "secret")
            .option("token_url", token_url)
            .option("api_base", api_base)
            .load()
        )
        rows = df.collect()
        # stub /v1/search returns one artist per call
        assert {(r.genre, r.id) for r in rows} == {("pop", "a1"), ("rock", "a1")}
        gets = [e for e in srv.state["log"] if e[0] == "GET"]
        assert len(gets) == 2 and all(g[3]["Authorization"].startswith("Bearer tok") for g in gets)
        assert srv.state["token_gen"] >= 1  # token POST happened over the wire
    finally:
        srv.close()


def test_jsonl_manifest_writer(spark, tmp_path):
    """The Python DataSource WRITE path (two-phase commit): executor
    tasks write temp shards + commit messages; the driver-side commit
    promotes shards and writes _MANIFEST.json last. The manifest must
    account for every row exactly, and checksums must match the shard
    bytes on disk."""
    import hashlib
    import json as _json

    from bigdata06_spark import sinks_datasource as SD

    SD.register(spark)
    df = spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(4)
    out = str(tmp_path / "export")
    df.write.format("jsonl_manifest").option("path", out).mode("append").save()

    manifest = _json.loads((tmp_path / "export" / "_MANIFEST.json").read_text())
    assert manifest["total_rows"] == 1000
    assert len(manifest["shards"]) == 4
    seen = 0
    for shard in manifest["shards"]:
        data = (tmp_path / "export" / shard["file"]).read_bytes()
        assert hashlib.sha256(data).hexdigest() == shard["sha256"]
        rows = [_json.loads(line) for line in data.decode().splitlines()]
        assert len(rows) == shard["rows"]
        assert all(r["v"] == r["id"] * 2 for r in rows)
        seen += len(rows)
    assert seen == 1000
    # no temp files survive the commit
    assert not [p for p in (tmp_path / "export").iterdir() if p.name.startswith("_temp-")]


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs single-key sort: for a box predicate on (x, y), file
    min/max stats must prune files on BOTH dimensions under Z-order,
    while an x-sorted layout leaves every file overlapping any y range.
    Overlap counting is done directly on per-file min/max — the same
    stats parquet readers prune with."""
    import glob

    from bigdata06_spark.sinks import write_sorted_parquet, write_zorder_parquet

    df = spark.range(0, 40000).selectExpr(
        "CAST(id * 48271 % 40000 AS BIGINT) AS x",
        "CAST(id * 16807 % 40000 AS BIGINT) AS y",
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    write_zorder_parquet(df, zpath, ["x", "y"], n_files=16)
    write_sorted_parquet(df, spath, ["x"], n_files=16)

    def overlapping_files(path, lo, hi, col):
        n = 0
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            stats = spark.read.parquet(f).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).first()
            if stats.lo is not None and not (stats.hi < lo or stats.lo > hi):
                n += 1
        return n

    # a 10%-wide band on y: x-sorted files all span the full y range;
    # z-ordered files cover y-rectangles, so most files drop out
    assert overlapping_files(spath, 0, 4000, "y") == 16
    z_overlap = overlapping_files(zpath, 0, 4000, "y")
    assert z_overlap <= 8, f"zorder should prune y-band to few files, got {z_overlap}"
    # and x still prunes too (both dimensions clustered)
    assert overlapping_files(zpath, 0, 4000, "x") <= 8
    # correctness: layout changes nothing about the data
    assert spark.read.parquet(zpath).count() == 40000


def test_zorder_build_has_no_global_window(spark):
    """The Z-order build must not contain a WindowExec: the grid
    coordinate comes from broadcast approxQuantile bin edges, not a
    percent_rank over a no-partition window (which would funnel the
    whole table through one task at scale). Also pins date surrogate
    support and null placement."""
    from bigdata06_spark.sinks import zorder_grid

    df = spark.range(0, 5000).selectExpr(
        "CAST(id * 48271 % 5000 AS BIGINT) AS x",
        "date_add(DATE'2020-01-01', CAST(id % 365 AS INT)) AS d",
    )
    z, helpers, _edges = zorder_grid(df, ["x", "d"], bits=8)
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"zorder build contains a window:\n{plan}"
    # monotone binning: higher x ⇒ grid coordinate never decreases
    rows = z.select("x", "_zr__zs_0").orderBy("x").collect()
    grids = [r[1] for r in rows]
    xs = [r[0] for r in rows]
    for (x1, g1), (x2, g2) in zip(zip(xs, grids), zip(xs[1:], grids[1:])):
        assert x1 > x2 or g1 <= g2
    assert min(grids) >= 0 and max(grids) <= 255
    # null clustering column lands in bin 0 (old NULLS FIRST contract)
    nul = spark.createDataFrame([(None,), (10.0,)], "v double")
    zn, _, _ = zorder_grid(nul, ["v"], bits=8)
    got = {r["v"]: r["_zr__zs_0"] for r in zn.collect()}
    assert got[None] == 0


def test_ivf_partition_pruning(spark, sf_dir, tmp_path):
    """IVF layout contract: cell-partitioned parquet + literal cell
    filter = static partition pruning — the scan lists only the probed
    cell directories, and the probe's top-k equals brute force over
    exactly those cells."""
    import numpy as np

    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.operators import similarity as S

    corpus = load_table(spark, "embeddings", sf_dir)
    dim = len(corpus.select("embedding").first()[0])
    rng = np.random.RandomState(7)
    centroids = [list(v / np.sqrt(dim)) for v in rng.randn(8, dim)]
    path = str(tmp_path / "ivf")
    S.write_ivf_partitioned(corpus, path, centroids)

    qvec = [float(x) for x in corpus.select("embedding").first()[0]]
    df = S.ivf_probe_partitioned(spark, path, qvec, centroids, k=5, nprobe=2)

    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    rows = df.collect()
    assert len(rows) == 5
    # exact re-rank within probed cells: monotone descending sims
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Compaction contract: N tiny files in, ceil(total/target) files
    out, content identical."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sinks import compact_small_files

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    frag = str(tmp_path / "fragmented")
    docs.repartition(64).write.parquet(frag)  # the pathological layout
    import glob

    assert len(glob.glob(frag + "/part-*.parquet")) == 64

    compacted = str(tmp_path / "compacted")
    total = sum(__import__("os").path.getsize(p) for p in glob.glob(frag + "/part-*.parquet"))
    target = max(1, total // 4)  # aim for ~4-5 output files
    n_out = compact_small_files(spark, frag, compacted, target_file_bytes=target)
    out_files = glob.glob(compacted + "/part-*.parquet")
    assert len(out_files) == n_out <= 8
    a = {(r.doc_id, r.text) for r in spark.read.parquet(compacted).collect()}
    b = {(r.doc_id, r.text) for r in docs.collect()}
    assert a == b


def test_observe_single_pass_metrics(spark, sf_dir):
    """`observe()` pipeline metrics: row counts / sums recorded AT a
    plan point during the one real action — no second scan. The 100 TB
    use: data-quality counters (rows in, rows surviving each filter)
    for free on every production run."""
    from pyspark.sql import Observation

    from bigdata06_spark.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir)
    obs = Observation("ingest")
    observed = li.observe(
        obs, F.count(F.lit(1)).alias("rows_in"), F.sum("l_quantity").alias("qty_in")
    )
    out = observed.filter(F.col("l_quantity") > 25).groupBy("l_returnflag").count()
    out.collect()
    got = obs.get
    assert got["rows_in"] == li.count()
    assert abs(got["qty_in"] - li.agg(F.sum("l_quantity")).first()[0]) < 1e-6


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """INSERT OVERWRITE with dynamic partition mode must replace ONLY
    the partitions present in the incoming batch — the daily-reload
    contract (static mode would wipe the whole table; a full rewrite
    at 100 TB is the thing partitioned layouts exist to avoid)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, None)
    path = str(tmp_path / "dpo")
    try:
        spark.conf.set(key, "dynamic")
        from bigdata06_spark.catalog import load_table

        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
        before = {
            r.event_type: r.n
            for r in spark.read.parquet(path).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }

        # reload ONLY the 'error' partition with halved rows
        patch = ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 2 == 0))
        patch.write.partitionBy("event_type").mode("overwrite").parquet(path)

        after = {
            r.event_type: r.n
            for r in spark.read.parquet(path).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert after["error"] == patch.count()
        for k in before:
            if k != "error":
                assert after[k] == before[k], k  # untouched partitions intact
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_stats_manifest_file_skipping(spark, sf_dir, tmp_path):
    """Manifest-driven file skipping: a range-sorted layout + per-file
    min/max manifest lets a predicate identify the one file it needs;
    reading only the kept files equals the full filtered scan."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sinks import files_for_predicate, write_sorted_parquet, write_stats_manifest

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "sorted")
    write_sorted_parquet(o, path, ["o_orderkey"], n_files=8)
    manifest = write_stats_manifest(spark, path, ["o_orderkey"])

    lo, hi = 10, 50
    keep = files_for_predicate(spark, manifest, "o_orderkey", lo, hi)
    assert 1 <= len(keep) <= 2  # disjoint sorted ranges → almost all files skipped

    import os

    kept_paths = [os.path.join(path, f) for f in keep]
    via_manifest = {
        r.o_orderkey
        for r in spark.read.parquet(*kept_paths)
        .filter(F.col("o_orderkey").between(lo, hi))
        .collect()
    }
    full = {
        r.o_orderkey
        for r in spark.read.parquet(path).filter(F.col("o_orderkey").between(lo, hi)).collect()
    }
    assert via_manifest == full and full


def test_compression_codec_matrix(spark, sf_dir, tmp_path):
    """Every supported parquet codec round-trips identical data; the
    written files carry the codec's extension (the knob that trades
    CPU for I/O at 100 TB — zstd is the modern default)."""
    import glob

    from bigdata06_spark.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    expected = {(r.doc_id, r.text) for r in docs.collect()}
    for codec, ext in [("snappy", ".snappy.parquet"), ("zstd", ".zstd.parquet"),
                       ("gzip", ".gz.parquet"), ("none", ".parquet")]:
        p = str(tmp_path / f"c_{codec}")
        docs.write.option("compression", codec).parquet(p)
        files = glob.glob(p + "/part-*")
        assert files and all(f.endswith(ext) for f in files), (codec, files[:2])
        assert {(r.doc_id, r.text) for r in spark.read.parquet(p).collect()} == expected


def test_ignore_corrupt_files(spark, sf_dir, tmp_path):
    """A corrupt file dropped into a dataset directory must not take
    down the whole scan when ignoreCorruptFiles is on — the
    quarantine-and-continue posture a 100 TB lake needs (one bad
    object out of millions cannot fail the job); with it off, the
    corruption is a loud error, never silent."""
    from bigdata06_spark.catalog import load_table

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "with_corrupt")
    o.write.parquet(path)
    good = spark.read.parquet(path).count()
    with open(path + "/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not really parquet")

    key = "spark.sql.files.ignoreCorruptFiles"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        assert spark.read.parquet(path).count() == good
        spark.conf.set(key, "false")
        import pytest

        with pytest.raises(Exception):
            spark.read.schema("o_orderkey long, o_totalprice double").parquet(path).count()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_to_arrow_interchange(spark, sf_dir):
    """`df.toArrow()` (Spark 4): the zero-copy columnar handoff to the
    Arrow ecosystem (polars/duckdb/pandas) — values and schema must
    match a row collect exactly."""
    from bigdata06_spark.catalog import load_table

    df = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    tbl = df.toArrow()
    assert tbl.num_rows == df.count()
    assert tbl.column_names == ["n_nationkey", "n_name"]
    via_arrow = set(zip(tbl.column("n_nationkey").to_pylist(), tbl.column("n_name").to_pylist()))
    via_rows = {(r.n_nationkey, r.n_name) for r in df.collect()}
    assert via_arrow == via_rows


def test_avro_roundtrip_all_types(spark, tmp_path):
    """avro_py round-trip across the full mappable type surface:
    longs, doubles, strings, booleans, binary, timestamps, dates,
    arrays, string-keyed maps, nested structs, and nulls in every
    nullable position."""
    import datetime as dtm

    from pyspark.sql import Row

    from bigdata06_spark.sources.readers import read_avro, write_avro

    rows = [
        Row(
            id=1, flag=True, score=1.5, name="alpha", blob=bytearray(b"\x00\x01"),
            ts=dtm.datetime(2024, 2, 29, 12, 30, 45, 123456),
            d=dtm.date(1969, 12, 31),
            tags=["x", "y"], props={"k": 2},
            nested=Row(a=3, b="in"),
        ),
        Row(
            id=2, flag=None, score=None, name=None, blob=None, ts=None, d=None,
            tags=None, props=None, nested=None,
        ),
        Row(
            id=3, flag=False, score=-0.25, name="β-utf8", blob=bytearray(b""),
            ts=dtm.datetime(1955, 1, 1, 0, 0, 0),
            d=dtm.date(2100, 1, 1),
            tags=[], props={}, nested=Row(a=-1, b=None),
        ),
    ]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "avro_all")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_avro_conformance_vs_jvm_avro(spark, tmp_path):
    """Cross-IMPLEMENTATION conformance, not a self-round-trip: a file
    written by the JVM's own Avro library (avro-1.12.1.jar, deflate)
    must decode identically with the pure-Python codec, and a file
    written by the pure-Python codec must be readable by the JVM
    library. This is the spec gate for avro_codec.py."""
    import io
    import json

    from bigdata06_spark.sources import avro_codec as A

    jvm = spark._jvm
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]},
                {"name": "score", "type": "double"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
            ],
        }
    )
    expected = [
        {"id": 0, "name": "a", "score": 1.5, "tags": ["x", "y"]},
        {"id": 1, "name": None, "score": -2.25, "tags": []},
        {"id": 2, "name": "c", "score": 0.0, "tags": ["z"]},
    ]

    # Java writes → Python reads
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    jfile = str(tmp_path / "java_written.avro")
    dfw.create(jschema, jvm.java.io.File(jfile))
    for rec_dict in expected:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", rec_dict["id"])
        rec.put("name", rec_dict["name"])
        rec.put("score", rec_dict["score"])
        arr = jvm.java.util.ArrayList()
        for t in rec_dict["tags"]:
            arr.add(t)
        rec.put("tags", arr)
        dfw.append(rec)
    dfw.close()
    with open(jfile, "rb") as fh:
        _, it = A.read_container(fh)
        assert list(it) == expected

    # Python writes → Java reads
    pfile = str(tmp_path / "py_written.avro")
    buf = io.BytesIO()
    A.write_container(buf, schema_json, expected, codec="deflate", sync=b"fedcba9876543210")
    with open(pfile, "wb") as fh:
        fh.write(buf.getvalue())
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(pfile), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while dfr.hasNext():
        r = dfr.next()
        got.append(
            {
                "id": r.get("id"),
                "name": None if r.get("name") is None else str(r.get("name")),
                "score": r.get("score"),
                "tags": [str(x) for x in r.get("tags")],
            }
        )
    dfr.close()
    assert got == expected


def test_avro_table_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """orders through the avro sink and back equals the parquet
    original — the format swap is invisible to query results."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.readers import read_avro, write_avro

    o = load_table(spark, "orders", sf_dir)
    path = str(tmp_path / "orders_avro")
    write_avro(o, path)
    back = read_avro(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, o.collect()))


def test_avro_streaming_sink(spark, sf_dir, tmp_path):
    """avro_py as a STREAMING sink (DataSourceStreamWriter): events
    replayed with availableNow land in per-(batch, task) container
    files with a committed-batch marker; reading the directory back
    equals the batch table."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.avro_datasource import register
    from bigdata06_spark.sources.readers import read_avro
    from bigdata06_spark.streaming import ops as SO

    register(spark)
    out = str(tmp_path / "avro_stream")
    ckpt = str(tmp_path / "ckpt")
    ev = SO.stream_events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    q = (
        ev.writeStream.format("avro_py")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    import os

    assert any(f.startswith("_batch-") and f.endswith(".committed") for f in os.listdir(out))
    back = read_avro(spark, out)
    batch = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, batch.collect()))


def test_lakehouse_cow_rewrites_only_overlapping_files(spark, sf_dir, tmp_path):
    """The COW planner must rewrite ONLY the data files whose key
    range overlaps the touched keys: with 8 range-bucketed files and a
    change localized to a narrow key range, most v0 files must carry
    over by reference into v1, and the v0 snapshot must still read
    exactly as written (snapshot isolation)."""
    import json
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh")
    o = load_table(spark, "orders", sf_dir)
    LH.table_init(o, path, "o_orderkey")
    v0_files = set(LH.files_at_version(path, 0))
    assert len(v0_files) == 8

    updates = (
        o.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") < 20))
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(1.25))
    )
    v1 = LH.merge(spark, path, "o_orderkey", updates=updates)
    with open(os.path.join(path, "_log", f"{v1}.json")) as fh:
        entry = json.load(fh)
    assert 1 <= len(entry["remove"]) <= 2, entry  # narrow range → 1-2 files
    carried = v0_files - set(entry["remove"])
    assert carried < v0_files and carried <= set(LH.files_at_version(path, 1))

    # snapshot isolation: v0 unchanged, v1 reflects the update
    assert sorted(map(tuple, LH.read_version(spark, path, 0).collect())) == sorted(
        map(tuple, o.collect())
    )
    changed = (
        LH.read_version(spark, path, 1)
        .filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") < 20))
        .select("o_totalprice")
        .distinct()
        .collect()
    )
    assert [r.o_totalprice for r in changed] == [1.25]


def test_maybe_compact_amplification_guard(spark, tmp_path):
    """advisor r7: auto-compaction must not thrash. (a) A partitioned
    table whose live partition count >= max_files can never land
    below the threshold — maybe_compact SKIPS (no new version)
    instead of full-rewriting the table every micro-batch for no
    lasting reduction. (b) When n_files >= max_files, the target is
    clamped below the threshold so a compaction buys max_files -
    target batches of headroom. (c) A reducible table still
    compacts."""
    from bigdata06_spark import lakehouse as LH

    # (a) 5 one-file partitions, threshold 4: floor(5) >= 4 → skip
    pdf = spark.range(50).selectExpr(
        "id AS k", "CAST(id % 5 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    p1 = str(tmp_path / "lh_ac_part")
    LH.table_init(pdf, p1, "k", n_files=5, partition_by=["part"])
    v0 = LH.current_version(p1)
    n0 = len(LH.files_at_version(p1, v0))
    assert n0 >= 4
    assert LH.maybe_compact(spark, p1, "k", max_files=4) == v0  # no-op
    assert len(LH.files_at_version(p1, v0)) == n0

    # (b) unpartitioned at the threshold with n_files == max_files:
    # compacts BELOW the threshold, not back onto it
    u = str(tmp_path / "lh_ac_flat")
    LH.table_init(spark.range(40).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"), u, "k", n_files=5)
    v1 = LH.maybe_compact(spark, u, "k", max_files=4, n_files=4)
    assert v1 == 1
    assert len(LH.files_at_version(u, v1)) < 4
    assert LH.read_version(spark, u, v1).count() == 40
    # steady state below the threshold: the next call is a no-op
    assert LH.maybe_compact(spark, u, "k", max_files=4, n_files=4) == v1

    # (c) partitioned but reducible (2 partitions, threshold 6)
    p2 = str(tmp_path / "lh_ac_red")
    LH.table_init(pdf.filter("part < 2"), p2, "k", n_files=8,
                  partition_by=["part"])
    n2 = len(LH.files_at_version(p2, 0))
    assert n2 >= 6
    v2 = LH.maybe_compact(spark, p2, "k", max_files=6, n_files=3)
    assert v2 == 1 and len(LH.files_at_version(p2, v2)) < 6

    # (d) review r8: near-threshold target on a partitioned table —
    # a T-task partitioned write can land at T + P - 1 files (range
    # boundaries split partition values), so target=5 with P=2 and
    # max_files=6 could land AT the threshold and thrash forever;
    # the guard must shrink T so the worst case stays strictly below
    p3 = str(tmp_path / "lh_ac_edge")
    LH.table_init(pdf.filter("part < 2"), p3, "k", n_files=8,
                  partition_by=["part"])
    v3 = LH.maybe_compact(spark, p3, "k", max_files=6, n_files=5)
    assert v3 == 1 and len(LH.files_at_version(p3, v3)) < 6
    # steady state: the next call must be a no-op, not a rewrite
    assert LH.maybe_compact(spark, p3, "k", max_files=6, n_files=5) == v3


def test_lakehouse_optimize_preserves_rows_reduces_files(spark, sf_dir, tmp_path):
    """OPTIMIZE as a version: identical rows, fewer files, and the
    pre-compaction version still reads its original layout."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_opt")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=8)
    v1 = LH.optimize(spark, path, "o_orderkey", n_files=2)
    assert len(LH.files_at_version(path, v1)) == 2
    assert len(LH.files_at_version(path, 0)) == 8
    want = sorted(map(tuple, o.collect()))
    assert sorted(map(tuple, LH.read_version(spark, path, v1).collect())) == want
    assert sorted(map(tuple, LH.read_version(spark, path, 0).collect())) == want


def test_lakehouse_schema_evolution_lazy_column(spark, sf_dir, tmp_path):
    """add_column: a metadata-only version — the new column reads as
    typed NULL over files that predate it, the prior version doesn't
    see it at all, and a later COW merge writes real values into the
    files it rewrites while carried-over files stay lazy."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_evo")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    v1 = LH.add_column(path, "o_flag", "string")

    cur = LH.read_version(spark, path, v1)
    assert "o_flag" in cur.columns
    assert cur.filter(F.col("o_flag").isNotNull()).count() == 0
    assert "o_flag" not in LH.read_version(spark, path, 0).columns

    updates = (
        o.filter(F.col("o_orderkey") < 20)
        .select("o_orderkey")
        .withColumn("o_flag", F.lit("hot"))
    )
    v2 = LH.merge(spark, path, "o_orderkey", updates=updates)
    after = LH.read_version(spark, path, v2)
    flagged = after.filter(F.col("o_flag") == "hot").count()
    assert flagged == o.filter(F.col("o_orderkey") < 20).count()
    assert after.count() == o.count()


def test_avro_streaming_source_incremental(spark, sf_dir, tmp_path):
    """avro_py as a STREAMING source: files landing in the directory
    between runs are picked up incrementally from the checkpointed
    file-set offset — run 1 sees batch A, run 2 (same checkpoint)
    adds only batch B; union equals both writes, nothing duplicated."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.avro_datasource import register
    from bigdata06_spark.sources.readers import write_avro

    register(spark)
    src = str(tmp_path / "avro_src")
    ckpt = str(tmp_path / "ckpt")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)

    import os
    import shutil

    write_avro(a.coalesce(1), src)
    schema = o.schema

    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("avro_py")
            .schema(schema)
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got1 = run_once()
    assert sorted(map(tuple, got1.collect())) == sorted(map(tuple, a.collect()))

    # land batch B as new files (write elsewhere, move in — the sink
    # would clear _SUCCESS etc.; keep only new .avro files)
    tmp2 = str(tmp_path / "b_stage")
    write_avro(b.coalesce(1), tmp2)
    for f in os.listdir(tmp2):
        if f.endswith(".avro"):
            shutil.move(os.path.join(tmp2, f), os.path.join(src, "b-" + f))

    got2 = run_once()
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, a.unionAll(b).collect())
    )


def test_lakehouse_scattered_merge_prunes_per_file(spark, sf_dir, tmp_path):
    """A change set touching two keys at OPPOSITE ends of the key
    space must rewrite only the two files containing them — a global
    bounding box would mark every file in between."""
    import json
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_scatter")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=8)
    lo_key = o.agg(F.min("o_orderkey")).first()[0]
    hi_key = o.agg(F.max("o_orderkey")).first()[0]
    updates = spark.createDataFrame(
        [(lo_key, 1.0), (hi_key, 2.0)], ["o_orderkey", "o_totalprice"]
    )
    v1 = LH.merge(spark, path, "o_orderkey", updates=updates)
    with open(os.path.join(path, "_log", f"{v1}.json")) as fh:
        entry = json.load(fh)
    assert len(entry["remove"]) == 2, entry
    got = {
        r.o_orderkey: r.o_totalprice
        for r in LH.read_version(spark, path, v1)
        .filter(F.col("o_orderkey").isin(lo_key, hi_key))
        .collect()
    }
    assert got == {lo_key: 1.0, hi_key: 2.0}


def test_lakehouse_change_data_feed(spark, sf_dir, tmp_path):
    """Incremental consumption: read_changes(v0→v1) returns exactly
    the rewritten files' post-image rows (the touched key updated,
    plus its co-resident rows) and nothing from untouched files —
    the input an incremental downstream job reprocesses."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_cdf")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=8)
    lo_key = o.agg(F.min("o_orderkey")).first()[0]
    updates = spark.createDataFrame([(lo_key, 7.0)], ["o_orderkey", "o_totalprice"])
    v1 = LH.merge(spark, path, "o_orderkey", updates=updates)

    changes = LH.read_changes(spark, path, 0, v1)
    n_total = o.count()
    assert 0 < changes.count() < n_total  # one rewritten file, not the table
    got = {r.o_orderkey: r.o_totalprice for r in changes.collect()}
    assert got[lo_key] == 7.0
    # post-image consistency: changed rows agree with the v1 snapshot
    v1_rows = {
        r.o_orderkey: r.o_totalprice
        for r in LH.read_version(spark, path, v1)
        .filter(F.col("o_orderkey").isin(list(got)))
        .collect()
    }
    assert got == v1_rows
    # empty range → empty frame with the right schema
    assert LH.read_changes(spark, path, v1, v1).count() == 0


def test_format_parity_matrix(spark, sf_dir, tmp_path):
    """One table through every batch format the engine ships —
    parquet, ORC, JSON-lines, CSV, Avro — must read back row-identical
    (types coerced where the format is untyped): the format swap is
    invisible to query results."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.readers import (
        read_avro,
        read_csv,
        read_json,
        read_orc,
        write_avro,
    )
    from bigdata06_spark.sinks import write_csv, write_jsonl, write_orc, write_parquet

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    want = sorted(map(tuple, o.collect()))
    schema = o.schema

    pq = str(tmp_path / "pq"); write_parquet(o, pq)
    assert sorted(map(tuple, spark.read.parquet(pq).collect())) == want

    orc = str(tmp_path / "orc"); write_orc(o, orc)
    assert sorted(map(tuple, read_orc(spark, orc).collect())) == want

    js = str(tmp_path / "jsonl"); write_jsonl(o, js)
    assert sorted(map(tuple, read_json(spark, js, schema).collect())) == want

    csvp = str(tmp_path / "csv"); write_csv(o, csvp)
    assert sorted(map(tuple, read_csv(spark, csvp, schema).collect())) == want

    av = str(tmp_path / "avro"); write_avro(o, av)
    assert sorted(map(tuple, read_avro(spark, av).collect())) == want


def test_lakehouse_merge_rejects_duplicate_update_keys(spark, sf_dir, tmp_path):
    """Duplicate keys in an update batch would fan out the COW join
    and silently duplicate table rows — merge must refuse."""
    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dup")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    dupes = spark.createDataFrame(
        [(k, 1.0), (k, 2.0)], ["o_orderkey", "o_totalprice"]
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        LH.merge(spark, path, "o_orderkey", updates=dupes)


def test_lakehouse_vacuum_and_log_checkpoint(spark, sf_dir, tmp_path):
    """Operational lifecycle: versions accumulate → checkpoint_log
    squashes history into one snapshot entry → vacuum deletes files
    only old versions referenced. The current version reads
    identically before and after; schema evolution survives the
    squash; vacuumed files are gone from disk."""
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_ops")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    LH.add_column(path, "o_flag", "string")
    k = o.agg(F.min("o_orderkey")).first()[0]
    updates = spark.createDataFrame(
        [(k, 9.0, "hot")], ["o_orderkey", "o_totalprice", "o_flag"]
    )
    v2 = LH.merge(spark, path, "o_orderkey", updates=updates)
    before = sorted(map(tuple, LH.read_version(spark, path, v2).collect()))

    dead = LH.vacuum(path, keep_versions=1)
    assert dead, "the rewritten v0 file should be reclaimable"
    assert all(not os.path.exists(os.path.join(path, f)) for f in dead)

    v = LH.checkpoint_log(path)
    assert v == v2
    assert not os.path.exists(os.path.join(path, "_log", "0.json"))
    after = sorted(map(tuple, LH.read_version(spark, path, v2).collect()))
    assert after == before
    assert "o_flag" in LH.read_version(spark, path, v2).columns


def test_lakehouse_merge_all_new_keys_insert_leg_runs(spark, sf_dir, tmp_path):
    """A CDC batch whose keys all lie ABOVE every file's key range
    (monotonically increasing keys — the normal append-style ingest)
    must still append via the insert leg: zero overlapping files is
    the update/delete no-op, not a reason to drop inserts."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_append")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    hi = o.agg(F.max("o_orderkey")).first()[0]
    batch = spark.createDataFrame(
        [(hi + 10, 1.0), (hi + 20, 2.0)], ["o_orderkey", "o_totalprice"]
    )
    # the foreach_batch shape: every micro-batch passed as updates+inserts
    v1 = LH.merge(spark, path, "o_orderkey", updates=batch, inserts=batch)
    cur = LH.read_version(spark, path, v1)
    assert cur.count() == o.count() + 2
    got = sorted(
        map(tuple, cur.filter(F.col("o_orderkey") > hi).collect())
    )
    assert got == [(hi + 10, 1.0), (hi + 20, 2.0)]


def test_lakehouse_commit_conflict_one_writer_wins(spark, sf_dir, tmp_path):
    """Optimistic concurrency: two writers that both computed version
    N+1 race at the atomic log commit — exactly one wins; the loser
    raises CommitConflictError, the log is uncorrupted, and the
    winner's rows are intact (the loser's data files are orphans that
    vacuum reclaims)."""
    from unittest import mock

    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_race")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd_a = spark.createDataFrame([(k, 111.0)], ["o_orderkey", "o_totalprice"])
    upd_b = spark.createDataFrame([(k, 222.0)], ["o_orderkey", "o_totalprice"])

    v1 = LH.merge(spark, path, "o_orderkey", updates=upd_a)
    assert v1 == 1
    # writer B interleaved: it read version 0 BEFORE A committed —
    # pin its view of current_version to the stale value
    with mock.patch.object(LH, "current_version", return_value=0):
        with pytest.raises(LH.CommitConflictError):
            LH.merge(spark, path, "o_orderkey", updates=upd_b)
    # log intact, winner's value visible
    assert LH.current_version(path) == 1
    row = (
        LH.read_version(spark, path, 1)
        .filter(F.col("o_orderkey") == k)
        .first()
    )
    assert row.o_totalprice == 111.0
    # the loser's orphaned data files are reclaimable
    dead = LH.vacuum(path, keep_versions=2)
    after = LH.read_version(spark, path, 1).filter(F.col("o_orderkey") == k).first()
    assert after.o_totalprice == 111.0
    assert dead or True  # orphans (if any) removed without breaking reads


def test_lakehouse_vacuum_sweeps_superseded_manifests(spark, tmp_path):
    """VACUUM reclaims superseded snapshot-manifest dirs once past the
    age guard (refresh_manifest defers their deletion so in-flight
    readers on the old meta finish); the CURRENT manifest dir and
    young superseded dirs survive."""
    import time as _time

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_vmf")
    LH.table_init(spark.range(100).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"), path, "k", n_files=1)
    m0 = M.refresh_manifest(spark, path)
    LH.append(spark, path, "k", spark.range(100, 120).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"))
    m1 = M.refresh_manifest(spark, path)
    assert os.path.isdir(m0["dir"]) and m0["dir"] != m1["dir"]

    # young superseded dir survives an age-guarded vacuum
    assert LH.vacuum(path, min_file_age_seconds=3600) == []
    assert os.path.isdir(m0["dir"])
    # ... and a DEFAULT (age-0) vacuum right after the refresh: the
    # manifest sweep floors its age guard at refresh's own
    # _SWEEP_AGE_SEC so an in-flight reader of the old meta can finish
    # (advisor r7) — data-file reclamation is unaffected
    assert LH.vacuum(path) == []
    assert os.path.isdir(m0["dir"])
    # age it out: dry run lists it, real run reclaims it, current stays
    old = _time.time() - 7200
    os.utime(m0["dir"], (old, old))
    listed = LH.vacuum(path, min_file_age_seconds=3600, dry_run=True)
    assert [p for p in listed if "_manifest" in p]
    assert os.path.isdir(m0["dir"])
    LH.vacuum(path, min_file_age_seconds=3600)
    assert not os.path.isdir(m0["dir"]) and os.path.isdir(m1["dir"])
    assert M.read_at_manifest(spark, path).count() == 120

    # SQL surface: VACUUM ... DRY RUN lists, removes nothing
    from bigdata06_spark.lakehouse_sql import register_table, sql
    register_table(spark, "t_vmf", path, "k")
    LH.optimize(spark, path, "k", n_files=1)  # orphans the pre-compaction files
    before = set(LH.files_at_version(path, LH.current_version(path)))
    listed = {r.path for r in sql(
        spark, "VACUUM t_vmf RETAIN 1 VERSIONS DRY RUN").collect()}
    assert listed  # v0's superseded file is reclaimable
    assert set(LH.files_at_version(path, LH.current_version(path))) == before
    assert all(os.path.exists(os.path.join(path, p)) for p in listed)


def test_lakehouse_vacuum_reclaims_checkpoint_squashed_files(spark, sf_dir, tmp_path):
    """Files removed BEFORE a log checkpoint appear in no surviving
    log entry; vacuum must still reclaim them (it lists data/ and
    subtracts retained versions rather than replaying add-lists)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_orphans")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 9.0)], ["o_orderkey", "o_totalprice"])
    v1 = LH.merge(spark, path, "o_orderkey", updates=upd)
    # squash history FIRST: v0's rewritten file is now in no log entry
    LH.checkpoint_log(path)
    before = sorted(map(tuple, LH.read_version(spark, path, v1).collect()))
    dead = LH.vacuum(path, keep_versions=1)
    assert dead, "the pre-checkpoint rewritten file must be reclaimed"
    on_disk = {
        os.path.relpath(os.path.join(dp, f), path)
        for dp, _, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(LH.files_at_version(path, v1))
    assert sorted(map(tuple, LH.read_version(spark, path, v1).collect())) == before


def test_avro_union_multibranch_runtime_dispatch(tmp_path):
    """Multi-branch unions (["null","long","string"]) encode by
    RUNTIME-TYPE dispatch (first matching branch in declaration order
    — the spec's resolution rule) and round-trip exactly; a value
    matching no branch is a loud error, never a wrong-branch
    encode."""
    import io

    import pytest

    from bigdata06_spark.sources import avro_codec as A

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["null", "long", "string"]}],
    }
    rows = [{"v": 1}, {"v": "x"}, {"v": None}, {"v": -7}, {"v": ""}]
    buf = io.BytesIO()
    A.write_container(buf, schema, rows, codec="null", sync=b"0123456789abcdef")
    buf.seek(0)
    _, it = A.read_container(buf)
    assert list(it) == rows
    # no matching branch → loud error (float is not in the union)
    with pytest.raises(ValueError, match="matches no branch"):
        A.write_container(io.BytesIO(), schema, [{"v": 1.5}])
    # bool must NOT dispatch to the long branch
    with pytest.raises(ValueError, match="matches no branch"):
        A.write_container(io.BytesIO(), schema, [{"v": True}])


def test_avro_union_multibranch_conformance_vs_jvm(spark, tmp_path):
    """Cross-implementation gate for multi-branch unions: the JVM Avro
    library reads the pure-Python codec's union branches, and the
    Python codec reads the JVM's — both directions, all three branch
    types exercised."""
    import io
    import json as _json

    from bigdata06_spark.sources import avro_codec as A

    jvm = spark._jvm
    schema_json = _json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "v", "type": ["null", "long", "string"]},
            ],
        }
    )
    expected = [
        # > Integer.MAX_VALUE so py4j maps the value to a Java long on
        # the JVM-write leg (small ints box to Integer, which the Java
        # union resolver rejects); the Python codec is width-agnostic
        {"id": 0, "v": 4_200_000_000},
        {"id": 1, "v": "forty-two"},
        {"id": 2, "v": None},
    ]

    # Python writes → Java reads
    pfile = str(tmp_path / "py_union.avro")
    buf = io.BytesIO()
    A.write_container(buf, schema_json, expected, codec="deflate", sync=b"fedcba9876543210")
    with open(pfile, "wb") as fh:
        fh.write(buf.getvalue())
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(pfile), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while dfr.hasNext():
        r = dfr.next()
        v = r.get("v")
        if v is not None and not isinstance(v, int):
            v = str(v)  # avro Utf8 → python str (py4j proxy)
        got.append({"id": r.get("id"), "v": v})
    dfr.close()
    assert got == expected

    # Java writes → Python reads
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    jfile = str(tmp_path / "java_union.avro")
    dfw.create(jschema, jvm.java.io.File(jfile))
    for rec_dict in expected:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", rec_dict["id"])
        rec.put("v", rec_dict["v"])
        dfw.append(rec)
    dfw.close()
    with open(jfile, "rb") as fh:
        _, it = A.read_container(fh)
        assert list(it) == expected


def test_avro_decimal_conformance_vs_jvm(spark, tmp_path):
    """Decimal logical type (bytes- and fixed-backed), cross-validated
    against the JVM Avro library: Python-written unscaled
    two's-complement bytes must decode to the same BigDecimal via
    org.apache.avro.Conversions.DecimalConversion, and JVM-written
    decimals must decode here. Spec: Avro 1.11 §Logical Types."""
    import decimal
    import io

    from bigdata06_spark.sources import avro_codec as A

    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "amt",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 12,
                    "scale": 2,
                },
            },
            {
                "name": "fx",
                "type": {
                    "type": "fixed",
                    "name": "fx16",
                    "size": 8,
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 4,
                },
            },
        ],
    }
    rows = [
        {"amt": decimal.Decimal("1234.56"), "fx": decimal.Decimal("-7.8901")},
        {"amt": decimal.Decimal("-0.01"), "fx": decimal.Decimal("0.0000")},
        {"amt": decimal.Decimal("0.00"), "fx": decimal.Decimal("99999.9999")},
    ]
    schema_json = json.dumps(schema)

    # Python writes → JVM reads (DecimalConversion gives BigDecimal)
    buf = io.BytesIO()
    A.write_container(buf, schema_json, rows, codec="deflate", sync=b"0123456789abcdef")
    pfile = str(tmp_path / "py_decimal.avro")
    with open(pfile, "wb") as fh:
        fh.write(buf.getvalue())
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    gdata = jvm.org.apache.avro.generic.GenericData()
    gdata.addLogicalTypeConversion(jvm.org.apache.avro.Conversions.DecimalConversion())
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(pfile),
        jvm.org.apache.avro.generic.GenericDatumReader(jschema, jschema, gdata),
    )
    got = []
    while dfr.hasNext():
        r = dfr.next()
        got.append(
            {
                "amt": decimal.Decimal(str(r.get("amt"))),
                "fx": decimal.Decimal(str(r.get("fx"))),
            }
        )
    dfr.close()
    assert got == rows

    # JVM writes → Python reads
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema, gdata)
    )
    jfile = str(tmp_path / "java_decimal.avro")
    dfw.create(jschema, jvm.java.io.File(jfile))
    for rec_dict in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("amt", jvm.java.math.BigDecimal(str(rec_dict["amt"])))
        rec.put("fx", jvm.java.math.BigDecimal(str(rec_dict["fx"])))
        dfw.append(rec)
    dfw.close()
    with open(jfile, "rb") as fh:
        _, it = A.read_container(fh)
        assert list(it) == rows


def test_avro_decimal_spark_table_roundtrip(spark, sf_dir, tmp_path):
    """A Spark DecimalType column through the avro sink and back —
    values and the (precision, scale) type survive."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.readers import read_avro, write_avro

    o = (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast(T.DecimalType(12, 2)).alias("price_dec"),
        )
        .limit(500)
    )
    path = str(tmp_path / "orders_decimal_avro")
    write_avro(o, path)
    back = read_avro(spark, path)
    assert back.schema["price_dec"].dataType == T.DecimalType(12, 2)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, o.collect()))


def test_avro_enum_fixed_conformance_vs_jvm(spark, tmp_path):
    """enum (symbol index ↔ symbol string) and fixed (size-checked
    raw bytes), cross-validated against the JVM Avro library in both
    directions; a wrong-size fixed write fails loudly."""
    import io

    import pytest

    from bigdata06_spark.sources import avro_codec as A

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "color",
                "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE"]},
            },
            {"name": "digest", "type": {"type": "fixed", "name": "d4", "size": 4}},
        ],
    }
    schema_json = json.dumps(schema)
    rows = [
        {"color": "GREEN", "digest": b"\x00\x01\x02\x03"},
        {"color": "RED", "digest": b"\xff\xfe\xfd\xfc"},
        {"color": "BLUE", "digest": b"abcd"},
    ]

    # Python writes → JVM reads
    buf = io.BytesIO()
    A.write_container(buf, schema_json, rows, codec="deflate", sync=b"0123456789abcdef")
    pfile = str(tmp_path / "py_ef.avro")
    with open(pfile, "wb") as fh:
        fh.write(buf.getvalue())
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(pfile),
        jvm.org.apache.avro.generic.GenericDatumReader(jschema),
    )
    got = []
    while dfr.hasNext():
        r = dfr.next()
        got.append(
            {"color": str(r.get("color")), "digest": bytes(r.get("digest").bytes())}
        )
    dfr.close()
    assert got == rows

    # JVM writes → Python reads
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    jfile = str(tmp_path / "java_ef.avro")
    dfw.create(jschema, jvm.java.io.File(jfile))
    enum_schema = jschema.getField("color").schema()
    fixed_schema = jschema.getField("digest").schema()
    for rec_dict in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("color", jvm.org.apache.avro.generic.GenericData.EnumSymbol(
            enum_schema, rec_dict["color"]))
        rec.put("digest", jvm.org.apache.avro.generic.GenericData.Fixed(
            fixed_schema, rec_dict["digest"]))
        dfw.append(rec)
    dfw.close()
    with open(jfile, "rb") as fh:
        _, it = A.read_container(fh)
        assert list(it) == rows

    # loud failures: bad enum symbol / wrong-size fixed
    with pytest.raises(ValueError, match="symbols"):
        A.write_container(io.BytesIO(), schema_json, [{"color": "MAUVE", "digest": b"abcd"}])
    with pytest.raises(ValueError, match="bytes"):
        A.write_container(io.BytesIO(), schema_json, [{"color": "RED", "digest": b"ab"}])


def test_lakehouse_merge_with_retry_wins_after_conflict(spark, sf_dir, tmp_path):
    """The OCC retry loop: a writer that loses the version race
    re-reads the newer snapshot and re-applies its declarative change
    — both writers' effects land, serialized."""
    from unittest import mock

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_retry")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k1, k2 = [r[0] for r in o.orderBy("o_orderkey").limit(2).collect()]
    upd_a = spark.createDataFrame([(k1, 111.0)], ["o_orderkey", "o_totalprice"])
    upd_b = spark.createDataFrame([(k2, 222.0)], ["o_orderkey", "o_totalprice"])

    # writer B sees version 0 on its FIRST attempt only (stale read);
    # the retry re-reads the real current version
    real_cv = LH.current_version
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real_cv(p)

    LH.merge(spark, path, "o_orderkey", updates=upd_a)  # writer A → v1
    with mock.patch.object(LH, "current_version", side_effect=stale_once):
        v = LH.merge_with_retry(spark, path, "o_orderkey", updates=upd_b)
    assert v == 2
    got = {
        r[0]: r[1]
        for r in LH.read_version(spark, path, 2)
        .filter(F.col("o_orderkey").isin([k1, k2]))
        .collect()
    }
    assert got == {k1: 111.0, k2: 222.0}


def test_lakehouse_row_level_cdf(spark, sf_dir, tmp_path):
    """Row-level pre/post images between versions: inserts, deletes,
    and both update images come out Delta-CDF-shaped; carried-over
    rows in rewritten files (the COW bulk) are filtered out."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_rowcdf")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    k1, k2, k3 = [r[0] for r in o.orderBy("o_orderkey").limit(3).collect()]
    hi = o.agg(F.max("o_orderkey")).first()[0]
    old_k1 = o.filter(F.col("o_orderkey") == k1).first().o_totalprice
    v1 = LH.merge(
        spark, path, "o_orderkey",
        updates=spark.createDataFrame([(k1, 999.5)], ["o_orderkey", "o_totalprice"]),
        delete_keys=spark.createDataFrame([(k2,)], ["o_orderkey"]),
        inserts=spark.createDataFrame(
            [(hi + 5, 42.0), (k3, 1.0)], ["o_orderkey", "o_totalprice"]
        ),  # k3 exists → anti-joined away; only hi+5 inserts
    )
    ch = LH.read_row_changes(spark, path, "o_orderkey", 0, v1)
    got = sorted((r._change_type, r.o_orderkey, r.o_totalprice) for r in ch.collect())
    assert got == sorted(
        [
            ("insert", hi + 5, 42.0),
            ("delete", k2, o.filter(F.col("o_orderkey") == k2).first().o_totalprice),
            ("update_preimage", k1, old_k1),
            ("update_postimage", k1, 999.5),
        ]
    )
    # empty range → empty frame with the _change_type column
    assert LH.read_row_changes(spark, path, "o_orderkey", v1, v1).count() == 0


def test_lakehouse_merge_schema_evolution(spark, sf_dir, tmp_path):
    """MERGE with merge_schema=True: a new column in the change
    relations evolves the table — update rows carry the value,
    carried-over rows read NULL, and later reads see the column
    everywhere. Without the flag, the unknown column fails loudly."""
    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_evolve")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    k = o.agg(F.min("o_orderkey")).first()[0]
    hi = o.agg(F.max("o_orderkey")).first()[0]
    upd = spark.createDataFrame(
        [(k, 9.0, "gold")], "o_orderkey long, o_totalprice double, tier string"
    )
    ins = spark.createDataFrame(
        [(hi + 7, 1.0, "new")], "o_orderkey long, o_totalprice double, tier string"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        LH.merge(spark, path, "o_orderkey", updates=upd)
    v1 = LH.merge(
        spark, path, "o_orderkey", updates=upd, inserts=ins, merge_schema=True
    )
    cur = LH.read_version(spark, path, v1)
    assert "tier" in cur.columns
    got = {r.o_orderkey: r.tier for r in cur.filter(F.col("o_orderkey").isin([k, hi + 7, k + 1])).collect()}
    assert got[k] == "gold" and got[hi + 7] == "new" and got[k + 1] is None
    # untouched-file rows read NULL via the logged schema_add
    n_null = cur.filter(F.col("tier").isNull()).count()
    assert n_null == cur.count() - 2
    # v0 remains evolution-free
    assert "tier" not in LH.read_version(spark, path, 0).columns


def test_lakehouse_merge_schema_evolution_insert_only_column(spark, sf_dir, tmp_path):
    """An evolved column carried ONLY by the insert relation (updates
    touch different columns) must land with its values — not be
    dropped by the rewrite leg's column alignment."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_evolve_ins")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    hi = o.agg(F.max("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 5.0)], "o_orderkey long, o_totalprice double")
    ins = spark.createDataFrame(
        [(hi + 3, 7.0, "fresh")], "o_orderkey long, o_totalprice double, origin string"
    )
    v1 = LH.merge(
        spark, path, "o_orderkey", updates=upd, inserts=ins, merge_schema=True
    )
    cur = LH.read_version(spark, path, v1)
    row = cur.filter(F.col("o_orderkey") == hi + 3).first()
    assert row.origin == "fresh" and row.o_totalprice == 7.0
    assert cur.filter(F.col("o_orderkey") == k).first().origin is None


def test_avro_timestamp_millis_conformance_vs_jvm(spark, tmp_path):
    """timestamp-millis (the Kafka-Connect interchange default):
    JVM-written millis files decode to the engine's internal
    microseconds, and a millis-schema file written here reads back
    with JVM semantics — values cross-validated both directions."""
    import io

    from bigdata06_spark.sources import avro_codec as A

    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        ],
    }
    schema_json = json.dumps(schema)
    ms_values = [(0, 1700000000123), (1, 1700000001456)]

    # JVM writes raw millis longs → we read µs
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    jfile = str(tmp_path / "java_ms.avro")
    dfw.create(jschema, jvm.java.io.File(jfile))
    for i, ms in ms_values:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", i)
        rec.put("ts", ms)
        dfw.append(rec)
    dfw.close()
    with open(jfile, "rb") as fh:
        _, it = A.read_container(fh)
        assert list(it) == [{"id": i, "ts": ms * 1000} for i, ms in ms_values]

    # we write µs through a millis schema → JVM reads raw millis
    buf = io.BytesIO()
    A.write_container(
        buf, schema_json,
        [{"id": i, "ts": ms * 1000} for i, ms in ms_values],
        codec="null", sync=b"0123456789abcdef",
    )
    pfile = str(tmp_path / "py_ms.avro")
    with open(pfile, "wb") as fh:
        fh.write(buf.getvalue())
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(pfile), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while dfr.hasNext():
        r = dfr.next()
        got.append((r.get("id"), r.get("ts")))
    dfr.close()
    assert got == ms_values

    # spark-side read maps the logical type to TimestampType
    from bigdata06_spark.sources.avro_datasource import avro_to_spark

    st = avro_to_spark(schema)
    assert st["ts"].dataType == T.TimestampType()


def test_lakehouse_vacuum_spares_inflight_writer_files(spark, sf_dir, tmp_path):
    """ADVICE r4 (medium): an OCC writer's data files land BEFORE its
    atomic log commit; a vacuum racing it must NOT delete them (the
    commit would then reference missing files — a corrupt table).
    Attempt dirs targeting an UNCOMMITTED FUTURE version (prefix >
    current_version) are skipped even at min_file_age_seconds=0; an
    attempt dir targeting an already-committed version belongs to a
    guaranteed LOSER and is reclaimed."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_inflight")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    assert LH.current_version(path) == 0

    # simulate an IN-FLIGHT writer targeting version 1: files written,
    # log not yet committed
    inflight_sub = "v1-aaaaaaaa"
    o.limit(5).coalesce(1).write.parquet(os.path.join(path, "data", inflight_sub))
    inflight_files = set(LH._list_data_files(path, inflight_sub))
    assert inflight_files

    # and a guaranteed-LOSER attempt: targets version 0 (already
    # committed) — its commit can only raise CommitConflictError
    loser_sub = "v0-bbbbbbbb"
    o.limit(5).coalesce(1).write.parquet(os.path.join(path, "data", loser_sub))

    dead = LH.vacuum(path, keep_versions=1, min_file_age_seconds=0.0)
    on_disk = {
        os.path.relpath(os.path.join(dp, f), path)
        for dp, _, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    # in-flight files survive; loser's files are gone
    assert inflight_files <= on_disk
    assert not any(d.startswith(f"data/{loser_sub}") for d in on_disk)
    assert any(d.startswith(f"data/{loser_sub}") for d in dead)

    # the in-flight writer now commits — table must be readable
    LH._write_log(path, 1, sorted(inflight_files), [])
    got = LH.read_version(spark, path, 1)
    assert got.count() == o.count() + 5


def test_lakehouse_occ_concurrent_writers_no_lost_updates(spark, tmp_path):
    """VERDICT r7 #8: REAL multi-writer contention under OCC — N
    threads race merge_with_retry against one table through the same
    SparkSession (concurrent job submission is supported); every
    writer's declarative change must land exactly once (no lost
    updates), the log must be a gap-free linearization (exactly one
    commit per version), and every intermediate version must read
    back as a consistent snapshot — the committed prefix's row count,
    never a torn state."""
    import threading

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_occ_mw")
    LH.table_init(spark.createDataFrame(
        [(k, 0.0) for k in range(20)], "k long, v double"),
        path, "k", n_files=2)

    n_writers, n_ops = 3, 4
    errors: list = []

    def writer(w: int) -> None:
        try:
            for i in range(n_ops):
                rel = spark.createDataFrame(
                    [(1000 + 100 * w + i, float(w))], "k long, v double")
                LH.merge_with_retry(spark, path, "k", inserts=rel,
                                    txn=(f"w{w}", i), max_retries=50)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append((w, repr(e)))

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    v = LH.current_version(path)
    # gap-free linearization: one version per committed merge
    assert v == n_writers * n_ops
    got = {r.k for r in LH.read_version(spark, path, v).collect()}
    want = set(range(20)) | {1000 + 100 * w + i
                             for w in range(n_writers) for i in range(n_ops)}
    assert got == want, "a concurrent writer's commit was lost"
    # snapshot isolation at every version: each commit inserted
    # exactly one row, so version x reads exactly 20 + x rows
    counts = [LH.read_version(spark, path, x).count() for x in range(v + 1)]
    assert counts == [20 + x for x in range(v + 1)]
    # the idempotent-txn ledger recorded every writer's last seq
    txns = LH.table_txns(path, v)
    assert {txns[f"w{w}"] for w in range(n_writers)} == {n_ops - 1}


def test_lakehouse_occ_reader_snapshot_isolation(spark, tmp_path):
    """Readers racing a committing writer always see a CONSISTENT
    snapshot: a reader thread repeatedly resolves current_version and
    reads it while a writer commits single-row inserts; every observed
    row count must be exactly 20 + version (never a torn in-between
    state), and the sequence is monotone (versions only advance)."""
    import threading

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_occ_rd")
    LH.table_init(spark.createDataFrame(
        [(k, 0.0) for k in range(20)], "k long, v double"),
        path, "k", n_files=2)

    n_commits = 6
    observed: list[tuple[int, int]] = []
    errors: list = []
    done = threading.Event()

    def reader() -> None:
        try:
            while not done.is_set():
                v = LH.current_version(path)
                n = LH.read_version(spark, path, v).count()
                observed.append((v, n))
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(n_commits):
            LH.merge(spark, path, "k", inserts=spark.createDataFrame(
                [(1000 + i, 1.0)], "k long, v double"))
    finally:
        done.set()
        t.join()
    assert not errors, errors
    assert observed, "reader never completed a read"
    for v, n in observed:
        assert n == 20 + v, f"torn snapshot: version {v} read {n} rows"
    versions = [v for v, _n in observed]
    assert versions == sorted(versions), "version went backwards"


def test_lakehouse_merge_with_retry_forwards_merge_schema(spark, sf_dir, tmp_path):
    """ADVICE r4: merge_with_retry must forward merge_schema so a
    schema-evolving merge can use the OCC retry path."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_retry_schema")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame(
        [(k, 1.0, "gold")], ["o_orderkey", "o_totalprice", "tier"]
    )
    v = LH.merge_with_retry(spark, path, "o_orderkey", updates=upd, merge_schema=True)
    cur = LH.read_version(spark, path, v)
    assert "tier" in cur.columns
    assert cur.filter(F.col("o_orderkey") == k).first().tier == "gold"


def test_lakehouse_merge_schema_evolves_with_no_file_overlap(spark, sf_dir, tmp_path):
    """ADVICE r4: when a merge_schema=True update matches NO snapshot
    file (keys beyond every file's range) and there are no inserts,
    the schema must still evolve — Delta records the metadata change
    regardless of row matches."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_noop_evolve")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    beyond = o.agg(F.max("o_orderkey")).first()[0] + 10_000_000
    upd = spark.createDataFrame(
        [(beyond, 1.0, "gold")], ["o_orderkey", "o_totalprice", "tier"]
    )
    v = LH.merge(spark, path, "o_orderkey", updates=upd, merge_schema=True)
    cur = LH.read_version(spark, path, v)
    assert "tier" in cur.columns  # evolved as typed NULL everywhere
    assert cur.filter(F.col("tier").isNotNull()).count() == 0


def test_avro_decimal_precision_overflow_rejected(tmp_path):
    """ADVICE r4: a value with more significant digits than the
    declared decimal precision is loud-rejected at encode time, not
    written as a spec-violating unscaled integer."""
    import io as _io

    import pytest

    from bigdata06_spark.sources import avro_codec as A

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "amt",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 12,
                    "scale": 2,
                },
            }
        ],
    }
    import decimal as D

    # 12 digits (10 integer + 2 fraction) fits
    buf = _io.BytesIO()
    A.write_container(
        buf, schema, [{"amt": D.Decimal("9999999999.99")}],
        codec="null", sync=b"0123456789abcdef",
    )
    # 13 digits overflows the declared precision
    with pytest.raises(ValueError, match="precision"):
        A.write_container(
            _io.BytesIO(), schema, [{"amt": D.Decimal("19999999999.99")}],
            codec="null", sync=b"0123456789abcdef",
        )


def test_lakehouse_partitioned_init_layout_and_pruned_read(spark, sf_dir, tmp_path):
    """Hive-style partition columns (VERDICT r4 #3): a date-partitioned
    events table lays files out under `event_date=<day>/` directories,
    the log records the partition spec and per-file partition values
    (matching the path encoding), and a day-filtered read's PLANNED
    SCAN holds only that day's files (inputFiles — static partition
    pruning), while the full read equals the source."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_part")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=4, partition_by=["event_date"])

    # layout: Hive-style directories with the REAL column name
    files = LH.files_at_version(path, 0)
    assert files and all("/event_date=" in f for f in files)
    assert LH.table_partition_by(path) == ["event_date"]
    # log partition values match the path encoding, file for file
    with open(os.path.join(path, "_log", "0.json")) as fh:
        entry = json.load(fh)
    assert entry["partition_by"] == ["event_date"]
    assert entry["partition_values"] == {f: LH._pvals_of_rel(f) for f in files}

    # full read round-trips (partition columns stay IN the data files)
    full = LH.read_version(spark, path, 0)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, ev.collect()))

    # pruned read: only the requested day's files reach the scan
    day = "2024-01-05"
    pruned = LH.read_version(spark, path, 0, partition_filter={"event_date": day})
    day_files = {f for f in files if f"/event_date={day}/" in f}
    scanned = {os.path.relpath(f.replace("file://", ""), path) for f in pruned.inputFiles()}
    assert scanned == day_files
    assert len(day_files) < len(files)
    want = ev.filter(F.col("event_date") == F.lit(day).cast("date"))
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, want.collect()))
    # unknown partition value → empty, same schema
    none = LH.read_version(spark, path, 0, partition_filter={"event_date": "1999-01-01"})
    assert none.count() == 0 and none.columns == full.columns


def test_lakehouse_partitioned_merge_confined_to_touched_partitions(spark, sf_dir, tmp_path):
    """A merge whose change relation carries the partition columns
    rewrites ONLY files in the touched partitions — key-range overlaps
    in other partitions (key ranges repeat per partition) no longer
    force rewrites — and the table state matches the batch-applied
    expectation."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_part_merge")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=4, partition_by=["event_date"])
    day = "2024-01-05"
    upd = (
        ev.filter(F.col("event_date") == F.lit(day).cast("date"))
        .select("event_id", "event_date")
        .withColumn("value", F.lit(0.0))
    )
    v1 = LH.merge(spark, path, "event_id", updates=upd)
    with open(os.path.join(path, "_log", f"{v1}.json")) as fh:
        entry = json.load(fh)
    # every rewritten (removed) file came from the touched partition
    assert entry["remove"], "the day's files must be rewritten"
    assert all(f"/event_date={day}/" in f for f in entry["remove"])
    # the rewrite output landed back under the partition directory
    assert all(f"/event_date={day}/" in f for f in entry["add"])
    got = LH.read_version(spark, path, v1)
    want = ev.withColumn(
        "value",
        F.when(F.col("event_date") == F.lit(day).cast("date"), F.lit(0.0)).otherwise(
            F.col("value")
        ),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_lakehouse_partitioned_optimize_checkpoint_vacuum(spark, sf_dir, tmp_path):
    """OPTIMIZE preserves the partition layout; checkpoint_log
    re-emits the partition spec; vacuum reclaims the pre-optimize
    files from their nested directories; pruned reads keep working."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_part_opt")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=4, partition_by=["event_date"])
    before = sorted(map(tuple, LH.read_version(spark, path, 0).collect()))
    v1 = LH.optimize(spark, path, "event_id", n_files=2)
    files = LH.files_at_version(path, v1)
    assert all("/event_date=" in f for f in files)
    LH.checkpoint_log(path)
    assert LH.table_partition_by(path) == ["event_date"]
    dead = LH.vacuum(path, keep_versions=1)
    assert dead, "pre-optimize files must be reclaimed"
    assert sorted(map(tuple, LH.read_version(spark, path, v1).collect())) == before
    day = "2024-01-07"
    pruned = LH.read_version(spark, path, v1, partition_filter={"event_date": day})
    assert pruned.count() > 0
    assert all(f"/event_date={day}/" in f for f in pruned.inputFiles())


def test_lakehouse_occ_optimize_and_add_column_lose_races_cleanly(spark, sf_dir, tmp_path):
    """VERDICT r4 #4: OPTIMIZE and ADD COLUMN run under the same
    optimistic-concurrency commit as merge — an interleaved writer
    that committed first makes the stale writer raise
    CommitConflictError with the log uncorrupted and the winner's
    version intact."""
    from unittest import mock

    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_occ_ops")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    k = o.agg(F.min("o_orderkey")).first()[0]

    # a merge wins version 1; a STALE optimize (read v0 before the
    # merge committed) must lose, not clobber
    upd = spark.createDataFrame([(k, 111.0)], ["o_orderkey", "o_totalprice"])
    assert LH.merge(spark, path, "o_orderkey", updates=upd) == 1
    with mock.patch.object(LH, "current_version", return_value=0):
        with pytest.raises(LH.CommitConflictError):
            LH.optimize(spark, path, "o_orderkey", n_files=2)
    assert LH.current_version(path) == 1
    assert (
        LH.read_version(spark, path, 1).filter(F.col("o_orderkey") == k).first().o_totalprice
        == 111.0
    )

    # an optimize wins version 2; a STALE add_column must lose
    assert LH.optimize(spark, path, "o_orderkey", n_files=2) == 2
    with mock.patch.object(LH, "current_version", return_value=1):
        with pytest.raises(LH.CommitConflictError):
            LH.add_column(path, "tier", "string")
    assert LH.current_version(path) == 2
    assert "tier" not in LH.read_version(spark, path, 2).columns
    # the non-stale retry succeeds (the standard OCC loop)
    assert LH.add_column(path, "tier", "string") == 3
    assert "tier" in LH.read_version(spark, path, 3).columns
    # losers' orphans reclaim without breaking any retained version
    LH.vacuum(path, keep_versions=4)
    assert LH.read_version(spark, path, 3).count() == o.count()


def test_lakehouse_vacuum_stale_view_spares_newly_committed_version(spark, sf_dir, tmp_path):
    """VERDICT r4 #4 (vacuum vs concurrent commit): a writer that
    commits version N+1 WHILE a vacuum (which read latest=N before
    the commit landed) is walking data/ must keep its files — the
    version-prefix guard treats them as in-flight."""
    from unittest import mock

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_vac_race")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 9.0)], ["o_orderkey", "o_totalprice"])
    v1 = LH.merge(spark, path, "o_orderkey", updates=upd)  # commits v1

    # vacuum runs with the STALE pre-commit view (latest=0): v1's
    # files must survive even though they are "unreferenced" in the
    # retained set it computes
    with mock.patch.object(LH, "current_version", return_value=0):
        LH.vacuum(path, keep_versions=1, min_file_age_seconds=0.0)
    got = LH.read_version(spark, path, v1).filter(F.col("o_orderkey") == k).first()
    assert got.o_totalprice == 9.0  # v1 fully readable — no file lost


def test_lakehouse_checkpoint_replace_is_atomic_swap(spark, sf_dir, tmp_path):
    """checkpoint_log replaces the squashed entry via write-temp +
    rename — no torn .tmp files survive and the squashed entry is
    complete JSON."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_ckpt_atomic")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 5.0)], ["o_orderkey", "o_totalprice"])
    v1 = LH.merge(spark, path, "o_orderkey", updates=upd)
    LH.checkpoint_log(path)
    log_files = os.listdir(os.path.join(path, "_log"))
    assert not [f for f in log_files if ".tmp-" in f]
    with open(os.path.join(path, "_log", f"{v1}.json")) as fh:
        raw = json.load(fh)
    assert raw["checkpoint"] is True
    # parquet checkpoint: the JSON entry holds the sidecar pointer,
    # not the bulk; hydration restores the exact file list
    assert "add" not in raw and raw["checkpoint_parquet"].startswith(f"{v1}.checkpoint-")
    entry = LH._read_entry(path, v1)
    assert sorted(entry["add"]) == LH.files_at_version(path, v1)


def test_lakehouse_checkpoint_crash_during_sidecar_preserves_history(
        spark, sf_dir, tmp_path, monkeypatch):
    """Durability ordering (review r10): checkpoint_log must not
    destroy the squashed history until the new entry is COMMITTED.
    Inject a crash inside the sidecar stream — the worst window, after
    state resolution but before the atomic swap — and the table must
    replay exactly as before the attempt (all log entries intact); a
    retried checkpoint then succeeds and removals are idempotent."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_ckpt_crash")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 5.0)], ["o_orderkey", "o_totalprice"])
    v1 = LH.merge(spark, path, "o_orderkey", updates=upd)
    before_files = LH.files_at_version(path, v1)
    before_log = sorted(f for f in os.listdir(os.path.join(path, "_log"))
                        if f.endswith(".json"))

    real_writer = M.write_checkpoint_sidecar

    def crash(*a, **kw):
        raise RuntimeError("simulated crash mid-sidecar")

    monkeypatch.setattr(M, "write_checkpoint_sidecar", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        LH.checkpoint_log(path)
    # the crash must leave EVERY committed entry in place (no history
    # deleted ahead of the swap) and the table fully replayable
    after_log = sorted(f for f in os.listdir(os.path.join(path, "_log"))
                       if f.endswith(".json") and ".tmp-" not in f)
    assert after_log == before_log
    assert LH.files_at_version(path, v1) == before_files
    # retry with the real writer: succeeds, squashes, same state
    monkeypatch.setattr(M, "write_checkpoint_sidecar", real_writer)
    assert LH.checkpoint_log(path) == v1
    assert LH.files_at_version(path, v1) == before_files
    entry = LH._read_entry(path, v1)
    assert entry["checkpoint"] is True
    assert sorted(entry["add"]) == before_files


def test_lakehouse_stats_skipping_prunes_files(spark, sf_dir, tmp_path):
    """Per-file column stats (stats_cols) land in every commit's log
    entry; a stats_filter read's planned scan holds only files whose
    recorded [min, max] can intersect the interval; stats survive
    merge and checkpoint; pruning is SOUND (result after the real
    filter equals the unpruned result)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_stats")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    LH.table_init(o, path, "o_orderdate", n_files=8, stats_cols=["o_orderdate"])
    assert LH.table_stats_cols(path) == ["o_orderdate"]
    stats = LH.file_stats_at(path, 0)
    files = LH.files_at_version(path, 0)
    assert set(stats) == set(files)
    assert all("o_orderdate" in s and s["o_orderdate"][0] <= s["o_orderdate"][1]
               for s in stats.values())

    lo, hi = "1995-01-01", "1995-03-31"
    pruned = LH.read_version(spark, path, 0, stats_filter={"o_orderdate": (lo, hi)})
    scanned = {os.path.relpath(f.replace("file://", ""), path) for f in pruned.inputFiles()}
    assert scanned < set(files), "stats pruning must drop some files"
    # sound: post-filter result equals the unpruned post-filter result
    pred = (F.col("o_orderdate") >= F.lit(lo).cast("date")) & (
        F.col("o_orderdate") <= F.lit(hi).cast("date")
    )
    got = sorted(map(tuple, pruned.filter(pred).collect()))
    want = sorted(map(tuple, LH.read_version(spark, path, 0).filter(pred).collect()))
    assert got == want and got

    # a merge's new files get stats too; checkpoint re-emits the spec
    # (the table key is o_orderdate here — delete one date's rows)
    k = o.agg(F.min("o_orderdate")).first()[0]
    del_keys = spark.createDataFrame([(str(k),)], "o_orderdate string").select(
        F.col("o_orderdate").cast("date").alias("o_orderdate")
    )
    v1 = LH.merge(spark, path, "o_orderdate", delete_keys=del_keys)
    s1 = LH.file_stats_at(path, v1)
    assert set(s1) == set(LH.files_at_version(path, v1))
    LH.checkpoint_log(path)
    assert LH.table_stats_cols(path) == ["o_orderdate"]
    assert set(LH.file_stats_at(path, v1)) == set(LH.files_at_version(path, v1))


def test_lakehouse_optimize_where_partition_scoped(spark, sf_dir, tmp_path):
    """OPTIMIZE ... WHERE: a partition-scoped compaction rewrites ONLY
    the matching partition's files; every other partition's files
    carry over by reference, and rows are unchanged."""
    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_opt_where")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=4, partition_by=["event_date"])
    before_files = set(LH.files_at_version(path, 0))
    before_rows = sorted(map(tuple, LH.read_version(spark, path, 0).collect()))
    day = "2024-01-05"
    v1 = LH.optimize(spark, path, "event_id", n_files=1,
                     partitions={"event_date": day})
    with open(os.path.join(path, "_log", f"{v1}.json")) as fh:
        entry = json.load(fh)
    assert entry["remove"] and all(f"/event_date={day}/" in f for f in entry["remove"])
    assert entry["add"] and all(f"/event_date={day}/" in f for f in entry["add"])
    after_files = set(LH.files_at_version(path, v1))
    carried = {f for f in before_files if f"/event_date={day}/" not in f}
    assert carried <= after_files  # untouched partitions carry over
    assert sorted(map(tuple, LH.read_version(spark, path, v1).collect())) == before_rows
    with pytest.raises(ValueError, match="no files match"):
        LH.optimize(spark, path, "event_id", partitions={"event_date": "1999-01-01"})


def test_lakehouse_delete_vectors_basic(spark, sf_dir, tmp_path):
    """MERGE-ON-READ deletes: a SCATTERED delete (every 7th key — the
    COW worst case, which would rewrite all 8 files) commits a
    deletion-vector version that rewrites ZERO data files; the read
    subtracts the positions; time travel to v0 still sees every row;
    re-running the same predicate is a version no-op."""
    import json
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    LH.table_init(o, path, "o_orderkey", n_files=8)
    v1 = LH.delete_where(spark, path, "o_orderkey % 7 = 3")
    assert v1 == 1
    with open(os.path.join(path, "_log", "1.json")) as fh:
        entry = json.load(fh)
    assert entry["add"] == [] and entry["remove"] == []  # zero rewrite
    assert entry["dv_add"]["dv"] and len(entry["dv_add"]["files"]) == 8
    # same data file set in both versions — only the DV map differs
    assert LH.files_at_version(path, 1) == LH.files_at_version(path, 0)
    assert set(LH.dvs_at_version(path, 1)) == set(LH.files_at_version(path, 1))

    want_v1 = sorted(map(tuple, o.filter("o_orderkey % 7 <> 3").collect()))
    assert sorted(map(tuple, LH.read_version(spark, path, 1).collect())) == want_v1
    # time travel: v0 still reads the full table
    want_v0 = sorted(map(tuple, o.collect()))
    assert sorted(map(tuple, LH.read_version(spark, path, 0).collect())) == want_v0
    # idempotent: every matching position already deleted → no commit
    assert LH.delete_where(spark, path, "o_orderkey % 7 = 3") == 1
    assert LH.current_version(path) == 1


def test_lakehouse_dv_merge_rewrite_no_resurrect(spark, sf_dir, tmp_path):
    """A COW rewrite of a DV-carrying file must (a) not resurrect the
    DV-deleted rows and (b) drop the spent DV references in the same
    commit; the merge INSERT leg must treat a DV-deleted key as
    absent (re-insertable)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv_merge")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    LH.delete_where(spark, path, "o_orderkey < 100")
    # update a range overlapping the DV'd keys → rewrites their file
    updates = (
        o.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200))
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(9.5))
    )
    v2 = LH.merge(spark, path, "o_orderkey", updates=updates)
    got = LH.read_version(spark, path, v2)
    assert got.filter("o_orderkey < 100").count() == 0  # no resurrection
    assert (
        got.filter("o_orderkey >= 100 AND o_orderkey < 200")
        .select("o_totalprice").distinct().collect()[0][0] == 9.5
    )
    # the rewritten file's DVs are spent: no DV references the live set
    dvs = LH.dvs_at_version(path, v2)
    live = set(LH.files_at_version(path, v2))
    assert all(f not in live or not lst for f, lst in dvs.items()) and not any(
        f in live and lst for f, lst in dvs.items()
    )
    # a DV-deleted key is re-insertable (insert leg sees live rows only)
    ins = spark.createDataFrame([(5, 1.0)], "o_orderkey long, o_totalprice double")
    v3 = LH.merge(spark, path, "o_orderkey", inserts=ins)
    assert LH.read_version(spark, path, v3).filter("o_orderkey = 5").count() == 1


def test_lakehouse_dv_optimize_materializes_and_vacuum_reclaims(spark, sf_dir, tmp_path):
    """OPTIMIZE after a DV delete materializes the deletes (rows
    equal, DV map empty) and VACUUM then reclaims the spent DV
    parquet; with the DV version still retained, vacuum keeps it."""
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv_opt")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    v1 = LH.delete_where(spark, path, "o_orderkey % 5 = 0")
    dv_files = [dv for lst in LH.dvs_at_version(path, v1).values() for dv in lst]
    assert dv_files
    # retained DV version → its DV parquet is live, vacuum spares it
    assert LH.vacuum(path, keep_versions=2) == []
    assert all(os.path.exists(os.path.join(path, f)) for f in set(dv_files))

    want = sorted(map(tuple, o.filter("o_orderkey % 5 <> 0").collect()))
    v2 = LH.optimize(spark, path, "o_orderkey", n_files=2)
    assert LH.dvs_at_version(path, v2) == {}
    assert sorted(map(tuple, LH.read_version(spark, path, v2).collect())) == want
    # only the compacted version retained → DV parquet is dead
    gone = LH.vacuum(path, keep_versions=1)
    assert set(dv_files) <= set(gone)
    assert sorted(map(tuple, LH.read_version(spark, path, v2).collect())) == want


def test_lakehouse_dv_row_cdf_emits_deletes(spark, sf_dir, tmp_path):
    """read_row_changes across a DV-only commit: the DV'd rows emit
    as `delete` pre-images and NOTHING else changes (the carried rows
    of the logically-rewritten files filter out on the struct
    compare); read_changes sees the files' surviving rows (post-image
    reprocessing contract)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv_cdf")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    v1 = LH.delete_where(spark, path, "o_orderkey >= 50 AND o_orderkey < 60")
    rc = LH.read_row_changes(spark, path, "o_orderkey", 0, v1)
    got = sorted(map(tuple, rc.collect()))
    want = sorted(
        tuple(r) + ("delete",)
        for r in o.filter("o_orderkey >= 50 AND o_orderkey < 60").collect()
    )
    assert got == want
    post = LH.read_changes(spark, path, 0, v1)
    assert post.filter("o_orderkey >= 50 AND o_orderkey < 60").count() == 0
    # post-image rows = the DV'd files' SURVIVING rows
    assert post.count() == LH.read_version(spark, path, v1).join(
        post.select("o_orderkey"), "o_orderkey", "left_semi"
    ).count()


def test_lakehouse_dv_occ_and_checkpoint(spark, sf_dir, tmp_path):
    """delete_where commits through the same O_EXCL protocol (a
    pre-committed target version → CommitConflictError, log intact);
    checkpoint_log re-emits the DV map so MOR reads survive the
    squash."""
    import json
    import os

    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    from unittest import mock

    path = str(tmp_path / "lh_dv_occ")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    # a no-op writer takes version 1 first; the DV writer read the
    # table BEFORE that commit — pin its stale view of the version
    LH._commit_log(path, 1, {"add": [], "remove": []})
    with mock.patch.object(LH, "current_version", return_value=0):
        with pytest.raises(LH.CommitConflictError):
            LH.delete_where(spark, path, "o_orderkey % 3 = 1")
    with open(os.path.join(path, "_log", "1.json")) as fh:
        e = json.load(fh)
        e.pop("ts", None)
        assert e == {"add": [], "remove": []}  # loser never corrupted it

    v2 = LH.delete_where(spark, path, "o_orderkey % 3 = 1")
    assert v2 == 2
    want = sorted(map(tuple, o.filter("o_orderkey % 3 <> 1").collect()))
    LH.checkpoint_log(path, v2)
    assert LH.dvs_at_version(path, v2)  # DV map survived the squash
    assert sorted(map(tuple, LH.read_version(spark, path, v2).collect())) == want


def test_lakehouse_dv_on_partitioned_table(spark, sf_dir, tmp_path):
    """Deletion vectors compose with Hive-style partitions: a
    one-partition delete leaves other partitions' reads untouched,
    and a pruned read applies only the pruned files' DVs."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv_part")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=2, partition_by=["event_date"])
    day = "2024-01-05"
    v1 = LH.delete_where(
        spark, path, f"event_date = DATE'{day}' AND event_id % 2 = 0"
    )
    pruned = LH.read_version(spark, path, v1, partition_filter={"event_date": day})
    assert pruned.filter("event_id % 2 = 0").count() == 0
    other = "2024-01-06"
    want_other = ev.filter(F.col("event_date") == F.lit(other).cast("date")).count()
    got_other = LH.read_version(
        spark, path, v1, partition_filter={"event_date": other}
    ).count()
    assert got_other == want_other


def test_lakehouse_optimize_zorder_prunes_both_axes(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER: after the Morton rewrite, stats skipping
    prunes files for a range predicate on EITHER clustered column
    (the point of Z-order over a plain sort, whose trailing column
    spans the full domain in every file), rows are unchanged, and
    the 2-D box scans no more files than either 1-D probe."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_z")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    LH.table_init(o, path, "o_orderkey", n_files=16,
                  stats_cols=["o_orderdate", "o_custkey"])
    v1 = LH.optimize(spark, path, "o_orderkey", n_files=16,
                     zorder_by=["o_orderdate", "o_custkey"])
    total = len(LH.files_at_version(path, v1))
    assert total == 16
    want = sorted(map(tuple, o.collect()))
    assert sorted(map(tuple, LH.read_version(spark, path, v1).collect())) == want

    ck = sorted(r[0] for r in o.select("o_custkey").distinct().collect())
    cmid = ck[len(ck) // 2]
    date_probe = LH.read_version(
        spark, path, v1, stats_filter={"o_orderdate": ("1996-01-01", "1996-12-31")}
    )
    cust_probe = LH.read_version(
        spark, path, v1, stats_filter={"o_custkey": (ck[0], cmid)}
    )
    box = LH.read_version(
        spark, path, v1,
        stats_filter={"o_orderdate": ("1996-01-01", "1996-12-31"),
                      "o_custkey": (ck[0], cmid)},
    )
    n_date = len(date_probe.inputFiles())
    n_cust = len(cust_probe.inputFiles())
    n_box = len(box.inputFiles())
    assert n_date < total and n_cust < total  # EITHER axis prunes
    assert n_box <= min(n_date, n_cust)
    # skipping is sound: the pruned read + real filter = exact rows
    got = sorted(
        map(tuple, box.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date"))
            & (F.col("o_custkey") >= ck[0]) & (F.col("o_custkey") <= cmid)
        ).collect())
    )
    want_box = sorted(
        map(tuple, o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date"))
            & (F.col("o_custkey") >= ck[0]) & (F.col("o_custkey") <= cmid)
        ).collect())
    )
    assert got == want_box

    import pytest

    ppath = str(tmp_path / "lh_zp")
    ev = o.withColumn("d", F.col("o_orderdate"))
    LH.table_init(ev, ppath, "o_orderkey", n_files=2, partition_by=["d"])
    # r7: unscoped zorder on a partitioned table is still loud, but a
    # partition-scoped zorder is supported (the daily runbook)
    with pytest.raises(ValueError, match="partition-scoped"):
        LH.optimize(spark, ppath, "o_orderkey", zorder_by=["o_custkey"])


def test_lakehouse_dv_read_plan_broadcast_anti_join(spark, sf_dir, tmp_path):
    """Plan pin for MOR reads: a DV-carrying version reads through a
    broadcast LeftAnti hash join on (file, row_index); a DV-free
    version's plan contains NO join at all (the zero-DV path is
    byte-identical to a plain snapshot read)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_dv_plan")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    plan0 = LH.read_version(spark, path, 0)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan0
    v1 = LH.delete_where(spark, path, "o_orderkey % 11 = 0")
    plan1 = LH.read_version(spark, path, v1)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan1 and "LeftAnti" in plan1


def test_lakehouse_update_where_mor(spark, sf_dir, tmp_path):
    """MOR UPDATE: one commit deletion-vectors the old positions and
    appends the updated rows — zero existing files rewritten; the
    untouched rows are bit-identical, time travel sees the old
    values, an unknown assignment column fails loud, and the version
    is a no-op when nothing matches."""
    import json
    import os

    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_upd")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    LH.table_init(o, path, "o_orderkey", n_files=8)
    v1 = LH.update_where(
        spark, path, "o_orderkey",
        {"o_totalprice": "o_totalprice * 2", "o_orderstatus": F.lit("U")},
        "o_orderkey % 13 = 5",
    )
    assert v1 == 1
    with open(os.path.join(path, "_log", "1.json")) as fh:
        e = json.load(fh)
    assert e["remove"] == [] and e["add"] and e["dv_add"]["dv"]  # zero rewrite

    got = LH.read_version(spark, path, 1)
    want = o.withColumn(
        "hit", F.col("o_orderkey") % 13 == 5
    )
    exp = sorted(
        (r.o_orderkey, "U" if r.hit else r.o_orderstatus,
         r.o_totalprice * 2 if r.hit else r.o_totalprice)
        for r in want.collect()
    )
    assert sorted(map(tuple, got.collect())) == exp
    assert sorted(map(tuple, LH.read_version(spark, path, 0).collect())) == sorted(
        map(tuple, o.collect())
    )
    with pytest.raises(ValueError, match="not in the table schema"):
        LH.update_where(spark, path, "o_orderkey", {"nope": F.lit(1)}, "true")
    assert LH.update_where(
        spark, path, "o_orderkey", {"o_totalprice": F.lit(0.0)}, "o_orderkey < 0"
    ) == 1  # nothing matched → no new version


def test_lakehouse_update_where_row_cdf_pairs(spark, sf_dir, tmp_path):
    """The row-level CDF of an update_where version pairs old and new
    images on the key as update_preimage/update_postimage — exactly
    the COW-rewrite contract, though no file was rewritten."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_upd_cdf")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    v1 = LH.update_where(
        spark, path, "o_orderkey", {"o_totalprice": F.lit(7.5)},
        "o_orderkey >= 40 AND o_orderkey < 50",
    )
    rc = LH.read_row_changes(spark, path, "o_orderkey", 0, v1)
    keys = sorted(
        r.o_orderkey
        for r in o.filter("o_orderkey >= 40 AND o_orderkey < 50").collect()
    )
    pre = sorted(map(tuple, rc.filter("_change_type = 'update_preimage'")
                     .select("o_orderkey", "o_totalprice").collect()))
    post = sorted(map(tuple, rc.filter("_change_type = 'update_postimage'")
                      .select("o_orderkey", "o_totalprice").collect()))
    assert [k for k, _ in pre] == keys and [k for k, _ in post] == keys
    assert all(v == 7.5 for _, v in post)
    assert rc.filter("_change_type IN ('insert', 'delete')").count() == 0


def test_lakehouse_update_where_partition_migration(spark, sf_dir, tmp_path):
    """On a partitioned table, an update that CHANGES the partition
    value routes the new row image into its new partition directory
    (the old image is DV'd in place)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_upd_part")
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "event_date", "event_type", "value")
    )
    LH.table_init(ev, path, "event_id", n_files=2, partition_by=["event_date"])
    src, dst = "2024-01-05", "2024-01-06"
    n_moved = ev.filter(F.col("event_date") == F.lit(src).cast("date")).count()
    n_dst0 = ev.filter(F.col("event_date") == F.lit(dst).cast("date")).count()
    v1 = LH.update_where(
        spark, path, "event_id",
        {"event_date": F.lit(dst).cast("date")},
        f"event_date = DATE'{src}'",
    )
    assert LH.read_version(
        spark, path, v1, partition_filter={"event_date": src}
    ).count() == 0
    assert LH.read_version(
        spark, path, v1, partition_filter={"event_date": dst}
    ).count() == n_dst0 + n_moved


def test_lakehouse_timestamp_as_of(spark, sf_dir, tmp_path):
    """TIMESTAMP AS OF: every commit records its wall clock; a
    timestamp between two commits resolves to the earlier version, a
    pre-table timestamp fails loud, and a post-checkpoint query of a
    squashed instant resolves to the checkpoint."""
    import json
    import os

    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_asof")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    # pin distinct commit times without sleeping: rewrite the logged ts
    for v, ts in ((0, 1000.0),):
        lp = os.path.join(path, "_log", f"{v}.json")
        e = json.load(open(lp)); e["ts"] = ts
        json.dump(e, open(lp, "w"))
    v1 = LH.delete_where(spark, path, "o_orderkey % 2 = 0")
    lp = os.path.join(path, "_log", f"{v1}.json")
    e = json.load(open(lp)); e["ts"] = 2000.0
    json.dump(e, open(lp, "w"))

    assert LH.version_at_timestamp(path, 1500.0) == 0
    assert LH.version_at_timestamp(path, 2000.0) == v1
    assert LH.version_at_timestamp(path, 99999.0) == v1
    with pytest.raises(ValueError, match="predates"):
        LH.version_at_timestamp(path, 500.0)
    n0 = LH.read_version(spark, path, LH.version_at_timestamp(path, 1500.0)).count()
    assert n0 == o.count()


def test_lakehouse_check_constraints(spark, sf_dir, tmp_path):
    """CHECK constraints: add validates existing rows first; merge
    insert/rewrite legs and update_where validate the rows they write
    and fail BEFORE any commit (version unchanged, table readable);
    NULL passes (SQL CHECK semantics); drop lifts the rule;
    checkpoint re-emits the live set."""
    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_check")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=2)
    v1 = LH.add_constraint(spark, path, "price_nonneg", "o_totalprice >= 0")
    assert LH.table_constraints(path) == {"price_nonneg": "o_totalprice >= 0"}
    with pytest.raises(LH.ConstraintViolationError):
        LH.add_constraint(spark, path, "tiny", "o_totalprice < 1")

    # violating insert: rejected before commit
    bad = spark.createDataFrame([(10**9, -5.0)], "o_orderkey long, o_totalprice double")
    with pytest.raises(LH.ConstraintViolationError):
        LH.merge(spark, path, "o_orderkey", inserts=bad)
    assert LH.current_version(path) == v1
    # violating update (merge rewrite leg)
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, -1.0)], "o_orderkey long, o_totalprice double")
    with pytest.raises(LH.ConstraintViolationError):
        LH.merge(spark, path, "o_orderkey", updates=upd)
    with pytest.raises(LH.ConstraintViolationError):
        LH.update_where(spark, path, "o_orderkey",
                        {"o_totalprice": F.lit(-2.0)}, f"o_orderkey = {k}")
    assert LH.current_version(path) == v1

    # a NULL result passes (SQL CHECK), a valid write passes
    ok = spark.createDataFrame([(10**9 + 1, None)], "o_orderkey long, o_totalprice double")
    v2 = LH.merge(spark, path, "o_orderkey", inserts=ok)
    assert LH.read_version(spark, path, v2).filter("o_orderkey = 1000000001").count() == 1

    LH.checkpoint_log(path)
    assert LH.table_constraints(path) == {"price_nonneg": "o_totalprice >= 0"}
    v3 = LH.drop_constraint(path, "price_nonneg")
    v4 = LH.merge(spark, path, "o_orderkey", inserts=bad)
    assert v4 == v3 + 1  # rule lifted
    with pytest.raises(ValueError, match="no constraint"):
        LH.drop_constraint(path, "nope")


def test_lakehouse_restore(spark, sf_dir, tmp_path):
    """RESTORE: roll back to an old version AS A NEW COMMIT — file
    set, DV map, and schema pin to the old snapshot, history stays
    time-travelable, restore-forward works, and vacuum after restore
    keeps the restored read intact."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_restore")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=4)
    want_v0 = sorted(map(tuple, o.collect()))

    upd = (
        o.filter(F.col("o_orderkey") < 100).select("o_orderkey")
        .withColumn("o_totalprice", F.lit(1.0))
    )
    LH.merge(spark, path, "o_orderkey", updates=upd)                    # v1
    LH.delete_where(spark, path, "o_orderkey % 2 = 0")                  # v2
    want_v2 = sorted(map(tuple, LH.read_version(spark, path, 2).collect()))
    LH.add_column(path, "flag", "int")                                  # v3
    assert "flag" in LH.read_version(spark, path, 3).columns

    v4 = LH.restore(path, 0)
    assert v4 == 4
    got = LH.read_version(spark, path, v4)
    assert "flag" not in got.columns  # schema pinned back too
    assert sorted(map(tuple, got.collect())) == want_v0
    # history preserved: the bad versions still read
    assert sorted(map(tuple, LH.read_version(spark, path, 2).collect())) == want_v2

    v5 = LH.restore(path, 2)  # roll FORWARD to the DV state
    assert sorted(map(tuple, LH.read_version(spark, path, v5).collect())) == want_v2
    # vacuum to just the restored state: read survives
    LH.vacuum(path, keep_versions=1)
    assert sorted(map(tuple, LH.read_version(spark, path, v5).collect())) == want_v2
    LH.checkpoint_log(path)
    assert sorted(
        map(tuple, LH.read_version(spark, path, LH.current_version(path)).collect())
    ) == want_v2


def test_lakehouse_shallow_clone_diverges(spark, sf_dir, tmp_path):
    """SHALLOW CLONE: zero-copy branch of a table (with live DVs and
    stats) that reads identically, then DIVERGES — the clone's merge
    rewrites replace source references with native files without
    touching the source; the clone's vacuum cannot reach source
    data; the source keeps evolving without affecting the clone."""
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, src, "o_orderkey", n_files=4, stats_cols=["o_orderkey"])
    LH.delete_where(spark, src, "o_orderkey % 9 = 2")  # live DVs at clone time
    want = sorted(map(tuple, LH.read_version(spark, src, 1).collect()))

    LH.clone(src, dst)
    assert sorted(map(tuple, LH.read_version(spark, dst, 0).collect())) == want
    # zero DATA copy: only the materialized DV position file exists
    copied = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(dst, "data"))
        for f in fs if f.endswith(".parquet")
    ]
    assert copied and all("dv" in os.path.basename(os.path.dirname(f)) for f in copied)

    # clone diverges: MOR delete + COW merge on the clone only
    LH.delete_where(spark, dst, "o_orderkey % 9 = 3")
    k = o.agg(F.min("o_orderkey")).first()[0]
    upd = spark.createDataFrame([(k, 42.0)], "o_orderkey long, o_totalprice double")
    v2 = LH.merge(spark, dst, "o_orderkey", updates=upd)
    got = LH.read_version(spark, dst, v2)
    assert got.filter("o_orderkey % 9 = 3").count() == 0
    assert got.filter(F.col("o_orderkey") == k).first().o_totalprice == 42.0
    # source untouched by everything above
    assert sorted(map(tuple, LH.read_version(spark, src, 1).collect())) == want

    # the clone's vacuum never deletes source files
    before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(src, "data")) for f in fs
    }
    LH.vacuum(dst, keep_versions=1)
    after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(src, "data")) for f in fs
    }
    assert before == after
    assert got.filter(F.col("o_orderkey") == k).first().o_totalprice == 42.0

    # source evolves; clone's pinned state unchanged
    LH.delete_where(spark, src, "o_orderkey % 9 = 4")
    assert LH.read_version(spark, dst, v2).filter("o_orderkey % 9 = 4").count() > 0


def test_lakehouse_clone_carries_constraints_and_update(spark, sf_dir, tmp_path):
    """The clone inherits CHECK constraints and supports MOR
    update_where against source-referenced files."""
    import pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    src = str(tmp_path / "src2")
    dst = str(tmp_path / "dst2")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, src, "o_orderkey", n_files=2)
    LH.add_constraint(spark, src, "nonneg", "o_totalprice >= 0")
    LH.clone(src, dst)
    assert LH.table_constraints(dst) == {"nonneg": "o_totalprice >= 0"}
    with pytest.raises(LH.ConstraintViolationError):
        LH.update_where(spark, dst, "o_orderkey",
                        {"o_totalprice": F.lit(-1.0)}, "o_orderkey < 100")
    v = LH.update_where(spark, dst, "o_orderkey",
                        {"o_totalprice": "o_totalprice + 1"}, "o_orderkey < 100")
    got = LH.read_version(spark, dst, v)
    base = {r.o_orderkey: r.o_totalprice for r in o.collect()}
    for r in got.filter("o_orderkey < 100").collect():
        assert r.o_totalprice == base[r.o_orderkey] + 1
    with pytest.raises(ValueError, match="already has"):
        LH.clone(src, dst)


def test_lakehouse_medallion_with_mor_gdpr_delete(spark, sf_dir, tmp_path):
    """End-to-end MOR composition: bronze takes a COW merge, a DV
    GDPR-delete of one user, and a MOR update; silver is maintained
    INCREMENTALLY — version by version, applying each row-CDF delta
    (so DV deletes and MOR updates must surface correctly in every
    step's feed) — and must equal a from-scratch rebuild of bronze's
    final state; gold (per-type totals) refreshed from silver's
    signed deltas matches the direct aggregate."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    bronze = str(tmp_path / "bronze")
    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("v_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .drop("value")
    )
    LH.table_init(ev, bronze, "event_id", n_files=4)
    gdpr_user = ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").first().user_id
    upd = (
        ev.filter(F.col("event_id") % 11 == 3).select("event_id")
        .withColumn("event_type", F.lit("redacted"))
    )
    LH.merge(spark, bronze, "event_id", updates=upd)                   # v1 COW
    LH.delete_where(spark, bronze, f"user_id = {gdpr_user}")           # v2 DV
    LH.update_where(spark, bronze, "event_id",
                    {"v_cents": "v_cents + 7"}, "event_id % 13 = 2")   # v3 MOR
    latest = LH.current_version(bronze)
    assert latest == 3

    # silver: start from v0, apply each version's row-CDF delta
    silver = {r.event_id: (r.user_id, r.event_type, r.v_cents)
              for r in LH.read_version(spark, bronze, 0).collect()}
    for v in range(1, latest + 1):
        for r in LH.read_row_changes(spark, bronze, "event_id", v - 1, v).collect():
            if r._change_type in ("insert", "update_postimage"):
                silver[r.event_id] = (r.user_id, r.event_type, r.v_cents)
            elif r._change_type == "delete":
                silver.pop(r.event_id, None)
    want = {r.event_id: (r.user_id, r.event_type, r.v_cents)
            for r in LH.read_version(spark, bronze, latest).collect()}
    assert silver == want
    assert not any(u == gdpr_user for u, _, _ in silver.values())  # GDPR held

    # gold: per-type cent totals from silver == direct aggregate
    gold = {}
    for _, (u, t, c) in silver.items():
        gold[t] = gold.get(t, 0) + c
    direct = {
        r.event_type: r.s
        for r in LH.read_version(spark, bronze, latest)
        .groupBy("event_type").agg(F.sum("v_cents").alias("s")).collect()
    }
    assert gold == direct and "redacted" in gold


def test_lakehouse_vacuum_dry_run_and_size_targeted_optimize(spark, sf_dir, tmp_path):
    """vacuum(dry_run=True) reports the dead set without deleting;
    optimize(target_file_bytes=...) derives the output file count
    from the current table size (ceil(bytes/target))."""
    import os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_ops")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    LH.table_init(o, path, "o_orderkey", n_files=8)
    upd = (
        o.filter(F.col("o_orderkey") < 50).select("o_orderkey")
        .withColumn("o_totalprice", F.lit(1.0))
    )
    LH.merge(spark, path, "o_orderkey", updates=upd)

    would = LH.vacuum(path, keep_versions=1, dry_run=True)
    assert would  # v0's rewritten file is dead
    assert all(os.path.exists(os.path.join(path, f)) for f in would)  # nothing removed
    gone = LH.vacuum(path, keep_versions=1)
    assert gone == would
    assert not any(os.path.exists(os.path.join(path, f)) for f in gone)

    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in LH.files_at_version(path, LH.current_version(path))
    )
    target = max(1, total // 3)
    v = LH.optimize(spark, path, "o_orderkey", target_file_bytes=target)
    n = len(LH.files_at_version(path, v))
    assert n == -(-total // target)  # ceil(bytes/target)
    assert sorted(map(tuple, LH.read_version(spark, path, v).collect())) == sorted(
        map(tuple, LH.read_version(spark, path, v - 1).collect())
    )


def test_lakehouse_rename_drop_column_lifecycle(spark, tmp_path):
    """Column mapping: rename/drop are zero-rewrite metadata commits;
    readers replay the action history over mixed file vintages, time
    travel shows version-contemporary names, and retired physical
    names are loud-rejected on re-introduction."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_colmap")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("price"),
        F.concat(F.lit("s"), F.col("id")).alias("status"),
    )
    LH.table_init(df, path, "k", n_files=4)
    LH.merge(spark, path, "k",
             updates=spark.range(10).select(F.col("id").alias("k"),
                                            F.lit(999.0).alias("price")))

    # zero-rewrite rename: file set unchanged, logical schema updated
    files_before = LH.files_at_version(path, 1)
    v2 = LH.rename_column(spark, path, "price", "price_usd")
    assert LH.files_at_version(path, v2) == files_before
    cur = LH.read_version(spark, path, v2)
    assert cur.columns == ["k", "price_usd", "status"]
    assert cur.filter("k=5").first().price_usd == 999.0

    # merge ON the renamed column writes new-name files; the read
    # coalesces across vintages
    v3 = LH.merge(spark, path, "k",
                  updates=spark.range(50, 60).select(
                      F.col("id").alias("k"), F.lit(-1.0).alias("price_usd")))
    r = {x.k: x.price_usd for x in LH.read_version(spark, path, v3).collect()}
    assert r[55] == -1.0 and r[5] == 999.0 and r[80] == 160.0

    # renaming the MERGE KEY: the per-file range planner coalesces
    # the key across its physical-name history
    LH.rename_column(spark, path, "k", "pk")
    v5 = LH.merge(spark, path, "pk",
                  updates=spark.range(90, 95).select(
                      F.col("id").alias("pk"), F.lit(7.0).alias("price_usd")))
    r = {x.pk: x.price_usd for x in LH.read_version(spark, path, v5).collect()}
    assert r[92] == 7.0 and r[55] == -1.0 and len(r) == 100
    assert LH.read_version(spark, path, v5).columns == ["pk", "price_usd", "status"]

    # zero-rewrite drop; time travel pre-rename shows the old names
    v6 = LH.drop_column(spark, path, "status")
    assert LH.files_at_version(path, v6) == LH.files_at_version(path, v5)
    assert LH.read_version(spark, path, v6).columns == ["pk", "price_usd"]
    assert LH.read_version(spark, path, 1).columns == ["k", "price", "status"]

    # retired-name guards: add_column, rename target, merge evolution
    with pytest.raises(ValueError, match="retired"):
        LH.add_column(path, "price", "double")
    with pytest.raises(ValueError, match="retired"):
        LH.rename_column(spark, path, "price_usd", "status")
    with pytest.raises(ValueError, match="retired"):
        LH.merge(spark, path, "pk",
                 updates=spark.range(3).select(F.col("id").alias("pk"),
                                               F.lit("x").alias("k")),
                 merge_schema=True)

    # row-CDF across a rename presents the LATEST schema on both sides
    cdf = LH.read_row_changes(spark, path, "pk", 3, v5)
    pre = {x.pk for x in cdf.filter("_change_type='update_preimage'").collect()}
    assert pre == set(range(90, 95))

    # restore past the drop re-pins the old action list
    v7 = LH.restore(path, v5)
    assert LH.read_version(spark, path, v7).columns == ["pk", "price_usd", "status"]

    # clone carries the mapping; checkpoint + optimize survive it and
    # optimize physically materializes the logical names
    dst = str(tmp_path / "lh_colmap_clone")
    LH.clone(path, dst)
    assert LH.read_version(spark, dst, 0).columns == ["pk", "price_usd", "status"]
    LH.checkpoint_log(path)
    v8 = LH.optimize(spark, path, "pk", n_files=2)
    out = LH.read_version(spark, path, v8)
    assert out.columns == ["pk", "price_usd", "status"]
    r = {x.pk: x.price_usd for x in out.collect()}
    assert r[92] == 7.0 and r[5] == 999.0 and len(r) == 100


def test_lakehouse_rename_guards_referencing_subsystems(spark, sf_dir, tmp_path):
    """Renaming/dropping a column referenced by the partition spec,
    stats spec, or a CHECK constraint is loud-rejected."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_guard")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    LH.table_init(o, path, "o_orderkey",
                  partition_by=["o_orderpriority"],
                  stats_cols=["o_totalprice"])
    with pytest.raises(ValueError, match="partition column"):
        LH.rename_column(spark, path, "o_orderpriority", "prio")
    with pytest.raises(ValueError, match="stats column"):
        LH.drop_column(spark, path, "o_totalprice")

    path2 = str(tmp_path / "lh_guard2")
    LH.table_init(o.select("o_orderkey", "o_totalprice"), path2, "o_orderkey")
    LH.add_constraint(spark, path2, "pos", "o_totalprice >= 0")
    with pytest.raises(ValueError, match="constraint"):
        LH.rename_column(spark, path2, "o_totalprice", "amount")
    LH.drop_constraint(path2, "pos")
    v = LH.rename_column(spark, path2, "o_totalprice", "amount")
    assert LH.read_version(spark, path2, v).columns == ["o_orderkey", "amount"]


def test_lakehouse_rename_with_deletion_vectors(spark, tmp_path):
    """MOR deletes and column mapping compose: DV subtraction happens
    on the raw scan before the schema replay, so a rename between a
    delete_where and the read changes nothing about which rows are
    live."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_colmap_dv")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") % 7).alias("grp"))
    LH.table_init(df, path, "k", n_files=2)
    LH.delete_where(spark, path, F.col("grp") == 3)
    LH.rename_column(spark, path, "grp", "bucket")
    out = LH.read_version(spark, path, LH.current_version(path))
    assert out.columns == ["k", "bucket"]
    vals = {x.bucket for x in out.collect()}
    assert 3 not in vals and len(out.collect()) == 50 - len(range(3, 50, 7))
    # update_where on the renamed column (MOR write path replays too)
    LH.update_where(spark, path, "k", {"bucket": F.lit(99)},
                    F.col("bucket") == 5)
    out2 = LH.read_version(spark, path, LH.current_version(path))
    assert {x.bucket for x in out2.collect()} == {0, 1, 2, 4, 6, 99}


def test_lakehouse_bloom_filter_skipping(spark, tmp_path):
    """Per-file blooms prune point lookups on unsorted columns:
    lookups stay exact across merge vintages, optimize re-collects,
    checkpoint and clone carry the bitmaps, and pruning is sound
    (never drops a file containing the value)."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_bloom")
    df = spark.range(20000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(5000)).alias("cust"),
        (F.col("id") * 1.5).alias("val"),
    )
    LH.table_init(df, path, "k", n_files=10, bloom_cols=["cust"])
    target = int(df.filter("k = 123").first().cust)
    truth = df.filter(F.col("cust") == target).count()

    pruned = LH.read_version(spark, path, 0, bloom_filter={"cust": target})
    assert pruned.filter(F.col("cust") == target).count() == truth
    assert len(pruned.inputFiles()) < len(LH.files_at_version(path, 0))

    # merge writes new files WITH blooms; a merged-only value is
    # findable and prunes to the new file(s)
    upd = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(7777777).alias("cust"),
        F.lit(0.0).alias("val"))
    v1 = LH.merge(spark, path, "k", updates=upd)
    r = LH.read_version(spark, path, v1, bloom_filter={"cust": 7777777})
    assert r.filter("cust = 7777777").count() == 10
    assert len(r.inputFiles()) < len(LH.files_at_version(path, v1))

    # checkpoint + clone carry the bitmaps
    LH.checkpoint_log(path)
    r2 = LH.read_version(spark, path, v1, bloom_filter={"cust": 7777777})
    assert r2.filter("cust = 7777777").count() == 10
    dst = str(tmp_path / "lh_bloom_clone")
    LH.clone(path, dst)
    rc = LH.read_version(spark, dst, 0, bloom_filter={"cust": 7777777})
    assert rc.filter("cust = 7777777").count() == 10

    # optimize re-collects blooms for the compacted files
    v2 = LH.optimize(spark, path, "k", n_files=3)
    r3 = LH.read_version(spark, path, v2, bloom_filter={"cust": target})
    assert r3.filter(F.col("cust") == target).count() == truth

    # soundness: missing bloom for a col / NULL value keep all files
    keep_all = LH.read_version(spark, path, v2, bloom_filter={"cust": None})
    assert len(keep_all.inputFiles()) == len(LH.files_at_version(path, v2))

    # bloom columns can't be renamed away
    with pytest.raises(ValueError, match="bloom"):
        LH.rename_column(spark, path, "cust", "customer")


def test_lakehouse_bounded_metadata_collects(spark, tmp_path, monkeypatch):
    """VERDICT r6 #6 — bounded driver metadata on the planning paths:
    (a) generated_partition_filter enumerates logged partition values
    through the MANIFEST when one is fresh (files_at_version
    monkeypatched to raise proves no all-file driver loop) and its
    collect is bounded by surviving values; (b) merge's partition
    confinement caps its distinct-partition pull — beyond the cap it
    skips confinement (an optimization) and the merge stays correct."""
    import datetime

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_bnd")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        (F.lit(datetime.datetime(2024, 3, 1))
         + F.make_interval(hours=F.col("id") % 240)).alias("ts"),
    )
    LH.table_init(df, path, "k", n_files=2,
                  partition_by=["event_date"],
                  generated_cols={"event_date": "to_date(ts)"})
    M.refresh_manifest(spark, path)
    want = LH.generated_partition_filter(
        spark, path, "event_date", "ts",
        datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 4, 23))

    def _boom(*a, **kw):
        raise AssertionError("all-file enumeration on a manifest-fresh path")

    monkeypatch.setattr(LH, "files_at_version", _boom)
    got = LH.generated_partition_filter(
        spark, path, "event_date", "ts",
        datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 4, 23))
    assert got == want == {
        "event_date": ["2024-03-02", "2024-03-03", "2024-03-04"]}
    monkeypatch.undo()

    # (b) confinement cap: with the cap forced to 1, a 3-partition
    # update exceeds it — confinement skips, result identical
    monkeypatch.setattr(LH, "_PART_CONFINE_CAP", 1)
    upd = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 1, 1)),
         (30, datetime.datetime(2024, 3, 2, 1)),
         (60, datetime.datetime(2024, 3, 3, 1))],
        "k long, ts timestamp")
    # updates lack event_date → partition-agnostic path; add it to
    # exercise the confinement branch
    upd = upd.withColumn("event_date", F.to_date("ts"))
    v = LH.merge(spark, path, "k", updates=upd)
    got_rows = {r.k: r.ts for r in LH.read_version(spark, path, v)
                .filter("k in (1, 30, 60)").collect()}
    assert got_rows[1] == datetime.datetime(2024, 3, 1, 1)
    assert got_rows[30] == datetime.datetime(2024, 3, 2, 1)
    assert got_rows[60] == datetime.datetime(2024, 3, 3, 1)


def test_lakehouse_generated_partition_columns(spark, tmp_path):
    """GENERATED ALWAYS columns: computed at init, recomputed by every
    writer (merge update moves the row's partition when the source
    moves; inserts and update_where never carry the column), derived
    partition pruning from a source-column range, rename/drop guards,
    clone/checkpoint carry the expressions."""
    import datetime

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_gen")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.lit(datetime.datetime(2024, 3, 1))
         + F.make_interval(hours=F.col("id") % 240)).alias("ts"),
        (F.col("id") * 1.0).alias("value"),
    )
    LH.table_init(df, path, "k", n_files=2,
                  partition_by=["event_date"],
                  generated_cols={"event_date": "to_date(ts)"})
    v0 = LH.read_version(spark, path, 0)
    assert "event_date" in v0.columns

    pf = LH.generated_partition_filter(
        spark, path, "event_date", "ts",
        datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 4, 23, 59))
    assert pf == {"event_date": ["2024-03-02", "2024-03-03", "2024-03-04"]}
    pruned = LH.read_version(spark, path, 0, partition_filter=pf)
    assert len(pruned.inputFiles()) < len(LH.files_at_version(path, 0))
    got = pruned.filter(
        (F.col("ts") >= "2024-03-02") & (F.col("ts") < "2024-03-05")).count()
    assert got == df.filter(
        (F.col("ts") >= "2024-03-02") & (F.col("ts") < "2024-03-05")).count() > 0

    # update that moves ts migrates the row's partition
    v1 = LH.merge(spark, path, "k",
                  updates=spark.range(5).select(
                      F.col("id").alias("k"),
                      F.lit(datetime.datetime(2024, 3, 9, 12)).alias("ts")))
    mf = LH.read_version(spark, path, v1,
                         partition_filter={"event_date": "2024-03-09"})
    assert mf.filter("k < 5").count() == 5

    # insert leg computes the column it never carried
    v2 = LH.merge(spark, path, "k",
                  inserts=spark.range(5000, 5003).select(
                      F.col("id").alias("k"),
                      F.lit(datetime.datetime(2024, 3, 15)).alias("ts"),
                      F.lit(0.0).alias("value")))
    assert LH.read_version(
        spark, path, v2,
        partition_filter={"event_date": "2024-03-15"}).count() == 3

    # update_where recomputes too
    v3 = LH.update_where(spark, path, "k",
                         {"ts": F.lit(datetime.datetime(2024, 3, 20))},
                         F.col("k") == 10)
    assert str(LH.read_version(spark, path, v3)
               .filter("k = 10").first().event_date) == "2024-03-20"

    with pytest.raises(ValueError, match="partition column|generated column"):
        LH.rename_column(spark, path, "event_date", "d")
    with pytest.raises(ValueError, match="referenced by generated"):
        LH.drop_column(spark, path, "ts")

    dst = str(tmp_path / "lh_gen_clone")
    LH.clone(path, dst)
    assert LH.table_generated_cols(dst) == {"event_date": "to_date(ts)"}
    LH.checkpoint_log(path)
    assert LH.table_generated_cols(path) == {"event_date": "to_date(ts)"}


def test_lakehouse_describe_history(spark, tmp_path):
    """DESCRIBE HISTORY: one row per log entry, newest first, with
    the operation name every commit now records (legacy entries infer
    from signature keys)."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_hist")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("v"))
    LH.table_init(df, path, "k", n_files=2)
    LH.merge(spark, path, "k",
             updates=spark.range(5).select(F.col("id").alias("k"),
                                           F.lit(0.0).alias("v")))
    LH.delete_where(spark, path, F.col("k") == 50)
    LH.update_where(spark, path, "k", {"v": F.lit(9.0)}, F.col("k") == 60)
    LH.add_column(path, "extra", "string")
    LH.rename_column(spark, path, "v", "val")
    LH.optimize(spark, path, "k", n_files=1)
    LH.restore(path, 2)
    h = LH.describe_history(spark, path)
    assert [r.operation for r in h.collect()] == [
        "RESTORE", "OPTIMIZE", "RENAME COLUMN", "ADD COLUMN",
        "UPDATE", "DELETE", "MERGE", "WRITE",
    ]
    assert h.filter("operation = 'RENAME COLUMN'").first().operation_details


def test_lakehouse_overwrite_where(spark, tmp_path):
    """replaceWhere: partition-scoped swap is O(partition) and atomic;
    predicate-scoped swap carries non-matching rows of affected files
    (DV-applied, so deleted rows don't resurrect); out-of-region data
    is loud-rejected; generated columns recompute on the backfill."""
    import datetime

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_rw")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.lit(datetime.datetime(2024, 3, 1))
         + F.make_interval(hours=F.col("id") % 96)).alias("ts"),
        (F.col("id") * 1.0).alias("value"),
    )
    LH.table_init(df, path, "k", n_files=2, partition_by=["event_date"],
                  generated_cols={"event_date": "to_date(ts)"})
    day = df.filter("to_date(ts) = date'2024-03-02'")
    fix = day.select("k", "ts", (-F.col("value")).alias("value"))
    v1 = LH.overwrite_where(spark, path, "k", fix,
                            partitions={"event_date": "2024-03-02"})
    out = LH.read_version(spark, path, v1)
    assert out.count() == 1000
    assert out.filter("event_date = date'2024-03-02' and value > 0").count() == 0
    assert out.filter("event_date = date'2024-03-01' and value < 0").count() == 0
    assert LH.read_version(spark, path, 0).filter(
        "event_date = date'2024-03-02' and value > 0").count() > 0
    with pytest.raises(ValueError, match="outside"):
        LH.overwrite_where(spark, path, "k", df.limit(10),
                           partitions={"event_date": "2024-03-02"})

    p2 = str(tmp_path / "lh_rw2")
    df2 = spark.range(500).select(F.col("id").alias("k"),
                                  (F.col("id") % 10).alias("g"),
                                  (F.col("id") * 1.0).alias("v"))
    LH.table_init(df2, p2, "k", n_files=4)
    LH.delete_where(spark, p2, F.col("k") == 7)
    repl = spark.range(100).select(F.col("id").alias("k"), F.lit(3).alias("g"),
                                   F.lit(-1.0).alias("v")).filter("k % 10 = 3")
    v = LH.overwrite_where(spark, p2, "k", repl, predicate="g = 3")
    cur = LH.read_version(spark, p2, v)
    assert cur.filter("g = 3").count() == 10
    assert cur.filter("g = 3 and v != -1.0").count() == 0
    assert cur.filter("k = 7").count() == 0
    assert cur.count() == 459
    assert LH.describe_history(spark, p2).first().operation == "REPLACE WHERE"


def test_lakehouse_identity_columns(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: init assigns start..N ordered by
    the key, inserts/replaceWhere allocate from the logged high
    watermark, updates keep ids, writers supplying the column are
    loud-rejected, checkpoint/clone carry the watermark."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_ident")
    df = spark.range(0, 200, 2).select(F.col("id").alias("k"),
                                       (F.col("id") * 1.0).alias("v"))
    LH.table_init(df, path, "k", n_files=3, identity_col="row_id")
    ids = {r.k: r.row_id for r in LH.read_version(spark, path, 0).collect()}
    assert ids[0] == 1 and ids[198] == 100
    assert LH.table_identity(path)["high"] == 100

    ins = spark.createDataFrame([(501, 1.0), (301, 2.0)], "k long, v double")
    v1 = LH.merge(spark, path, "k", inserts=ins)
    ids = {r.k: r.row_id for r in LH.read_version(spark, path, v1).collect()}
    assert ids[301] == 101 and ids[501] == 102  # key-ordered allocation

    v2 = LH.merge(spark, path, "k",
                  updates=spark.createDataFrame([(0, -1.0)], "k long, v double"))
    assert {r.k: r.row_id
            for r in LH.read_version(spark, path, v2).collect()}[0] == 1

    with pytest.raises(ValueError, match="IDENTITY"):
        LH.merge(spark, path, "k",
                 updates=spark.createDataFrame([(0, 5)], "k long, row_id long"))
    with pytest.raises(ValueError, match="IDENTITY"):
        LH.update_where(spark, path, "k", {"row_id": F.lit(0)}, F.col("k") == 0)
    with pytest.raises(ValueError, match="identity column"):
        LH.drop_column(spark, path, "row_id")

    # replaceWhere allocates fresh ids for the swapped region
    repl = spark.createDataFrame([(10, 0.0), (12, 0.0)], "k long, v double")
    v4 = LH.overwrite_where(spark, path, "k", repl, predicate="k in (10, 12)")
    ids4 = {r.k: r.row_id for r in LH.read_version(spark, path, v4).collect()}
    assert ids4[10] == 103 and ids4[12] == 104

    LH.checkpoint_log(path)
    assert LH.table_identity(path)["high"] == 104
    dst = str(tmp_path / "lh_ident_clone")
    LH.clone(path, dst)
    v5 = LH.merge(spark, dst, "k",
                  inserts=spark.createDataFrame([(999, 1.0)], "k long, v double"))
    assert {r.k: r.row_id
            for r in LH.read_version(spark, dst, v5).collect()}[999] == 105

    with pytest.raises(ValueError, match="identity column cannot be the merge key"):
        LH.table_init(spark.range(3).select(F.col("id").alias("k")),
                      str(tmp_path / "bad"), "rid", identity_col="rid")


def test_identity_allocation_has_no_global_window(spark):
    """Identity backfill must not serialize through one task: every
    window in the allocation plan is partitioned (per-bin), and the
    assigned ids still equal the global row_number-by-key oracle —
    including null keys (NULLS FIRST) and duplicate keys (dense
    contiguous ids)."""
    import re

    from bigdata06_spark.lakehouse import _assign_identity

    df = spark.range(0, 20000).select(
        (F.col("id") * 7919 % 17000).alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )
    ident = {"col": "rid", "start": 5, "step": 3, "high": 2}
    out = _assign_identity(df, ident, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert specs, "expected the per-bin row_number window in the plan"
    assert all("_ibin" in s for s in specs), \
        f"found a window without a partition spec:\n{plan}"

    rows = out.orderBy("rid").collect()
    assert len(rows) == 20000
    # ids are exactly high + step·rank(key): contiguous arithmetic
    # sequence, and key order is non-decreasing along it
    assert rows[0]["rid"] == 5 and rows[-1]["rid"] == 2 + 3 * 20000
    ks = [r["k"] for r in rows]
    assert ks == sorted(ks)

    # null keys allocate first (the old window's NULLS FIRST contract)
    nul = spark.createDataFrame([(None, 1.0), (7, 1.0), (3, 1.0)],
                                "k int, v double")
    got = _assign_identity(nul, {"col": "rid", "start": 1, "step": 1,
                                 "high": 0}, "k")
    by_id = {r["rid"]: r["k"] for r in got.collect()}
    assert by_id == {1: None, 2: 3, 3: 7}


def test_streaming_cdc_into_generated_partition_table(spark, tmp_path):
    """Round-5 composition: streaming CDC micro-batches upsert into a
    lakehouse table whose partition column is GENERATED — the CDC
    rows never carry event_date; every micro-batch merge recomputes
    it, an update that moves ts migrates the row's partition, and the
    result equals the batch-applied equivalent."""
    import datetime

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.streaming.sinks import foreach_batch_lakehouse_merge

    path = str(tmp_path / "lh_stream_gen")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        (F.lit(datetime.datetime(2024, 5, 1))
         + F.make_interval(hours=F.col("id") % 72)).alias("ts"),
        (F.col("id") * 1.0).alias("value"),
    )
    LH.table_init(base, path, "k", n_files=2, partition_by=["event_date"],
                  generated_cols={"event_date": "to_date(ts)"})

    # CDC stream: an update moving k=5 to a NEW day + two inserts
    src_dir = str(tmp_path / "cdc_src")
    changes = spark.createDataFrame(
        [(5, datetime.datetime(2024, 5, 9, 8), -5.0),
         (1000, datetime.datetime(2024, 5, 9, 9), 1.0),
         (1001, datetime.datetime(2024, 5, 1, 3), 2.0)],
        "k long, ts timestamp, value double")
    changes.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(changes.schema).parquet(src_dir)
    q = foreach_batch_lakehouse_merge(
        stream, path, "k", checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()

    cur = LH.read_version(spark, path, LH.current_version(path))
    assert cur.count() == 102
    moved = cur.filter("k = 5").first()
    assert str(moved.event_date) == "2024-05-09" and moved.value == -5.0
    # partition filter finds the migrated + inserted rows via pruning
    day9 = LH.read_version(spark, path, LH.current_version(path),
                           partition_filter={"event_date": "2024-05-09"})
    assert {r.k for r in day9.collect()} == {5, 1000}
    assert len(day9.inputFiles()) < len(
        LH.files_at_version(path, LH.current_version(path)))


def test_lakehouse_idempotent_txn_writes(spark, tmp_path):
    """txn=(app, version) makes merge idempotent (Delta's txnAppId/
    txnVersion): a replayed transaction is skipped outright — no new
    table version — the ledger is per-app, survives checkpoint
    squash, and the CDC sink stamps every micro-batch with
    (checkpoint, batch_id) so a re-delivered epoch is a true no-op."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_txn")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("v"))
    LH.table_init(df, path, "k", n_files=2)
    u = spark.createDataFrame([(1, -1.0)], "k long, v double")
    v1 = LH.merge(spark, path, "k", updates=u, txn=("app1", 0))
    assert LH.merge(spark, path, "k", updates=u, txn=("app1", 0)) == v1
    assert LH.current_version(path) == v1  # replay committed nothing
    v2 = LH.merge(spark, path, "k",
                  updates=spark.createDataFrame([(2, -2.0)], "k long, v double"),
                  txn=("app1", 1))
    assert v2 == v1 + 1
    v3 = LH.merge(spark, path, "k",
                  updates=spark.createDataFrame([(3, -3.0)], "k long, v double"),
                  txn=("app2", 0))  # apps are independent ledgers
    assert v3 == v2 + 1
    LH.checkpoint_log(path)
    assert LH.last_txn_version(path, "app1") == 1
    assert LH.merge(spark, path, "k", updates=u, txn=("app1", 1)) == v3


def test_lakehouse_datasource_matches_library_reader(spark, tmp_path):
    """format('lakehouse') reads — DV subtraction, column-mapping
    replay, versionAsOf/timestampAsOf — match lakehouse.read_version
    row-for-row and column-for-column on a table exercising every
    feature at once."""
    import json as _json
    import os as _os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "lh_ds")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("price"),
        F.concat(F.lit("s"), F.col("id")).alias("status"))
    LH.table_init(df, path, "k", n_files=3)
    LH.merge(spark, path, "k",
             updates=spark.range(10).select(F.col("id").alias("k"),
                                            F.lit(999.0).alias("price")))
    LH.delete_where(spark, path, F.col("k") == 50)
    LH.rename_column(spark, path, "price", "price_usd")
    LH.merge(spark, path, "k",
             updates=spark.range(60, 65).select(F.col("id").alias("k"),
                                                F.lit(-1.0).alias("price_usd")))
    LH.add_column(path, "note", "string")
    LH.drop_column(spark, path, "status")

    lib = LH.read_version(spark, path, LH.current_version(path))
    ds = spark.read.format("lakehouse").load(path)
    assert ds.columns == lib.columns
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, lib.collect()))

    ds0 = spark.read.format("lakehouse").option("versionAsOf", 1).load(path)
    lib0 = LH.read_version(spark, path, 1)
    assert ds0.columns == lib0.columns  # pre-rename names
    assert sorted(map(tuple, ds0.collect())) == sorted(map(tuple, lib0.collect()))

    ts1 = _json.load(open(_os.path.join(path, "_log", "1.json")))["ts"]
    dst = spark.read.format("lakehouse").option(
        "timestampAsOf", ts1 + 0.001).load(path)
    assert sorted(map(tuple, dst.collect())) == sorted(map(tuple, lib0.collect()))

    ds.createOrReplaceTempView("lh_ds_t")
    assert spark.sql(
        "SELECT count(*) AS n FROM lh_ds_t WHERE price_usd = -1.0").first().n == 5


def test_lakehouse_datasource_writer(spark, tmp_path):
    """format('lakehouse') writes: append/overwrite commit through
    the OCC protocol, compose with library merges and time travel,
    and tables whose invariants need Spark-side evaluation loud-
    reject the format writer."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "lh_dsw")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("v"))
    df.coalesce(3).write.format("lakehouse").mode("append").save(path)
    assert LH.current_version(path) == 0
    assert LH.read_version(spark, path, 0).count() == 100

    spark.range(100, 120).select(F.col("id").alias("k"),
                                 F.lit(0.0).alias("v")) \
        .coalesce(1).write.format("lakehouse").mode("append").save(path)
    assert LH.read_version(spark, path, 1).count() == 120
    LH.merge(spark, path, "k",
             updates=spark.createDataFrame([(5, -5.0)], "k long, v double"))
    assert LH.read_version(spark, path, 2).filter("k=5").first().v == -5.0

    spark.range(7).select(F.col("id").alias("k"), F.lit(9.0).alias("v")) \
        .coalesce(1).write.format("lakehouse").mode("overwrite").save(path)
    assert LH.read_version(spark, path, 3).count() == 7
    assert LH.read_version(spark, path, 1).count() == 120  # history intact
    assert [r.operation for r in LH.describe_history(spark, path).collect()] \
        == ["WRITE", "MERGE", "APPEND", "WRITE"]
    rt = spark.read.format("lakehouse").load(path)
    assert sorted(map(tuple, rt.collect())) == sorted(
        map(tuple, LH.read_version(spark, path, 3).collect()))

    p2 = str(tmp_path / "lh_dsw2")
    LH.table_init(df, p2, "k", stats_cols=["v"])
    with pytest.raises(Exception, match="stats columns"):
        df.write.format("lakehouse").mode("append").save(p2)


def test_lakehouse_datasource_batch_change_feed(spark, tmp_path):
    """format('lakehouse').option('readChangeFeed', 'true') returns
    exactly lakehouse.read_changes' rows for the same version range —
    the Delta batch-CDF surface through the DataFrame reader API."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "lh_ds_cdf")
    df = spark.range(200).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("v"))
    LH.table_init(df, path, "k", n_files=4)
    LH.merge(spark, path, "k",
             updates=spark.range(10).select(F.col("id").alias("k"),
                                            F.lit(0.0).alias("v")),
             inserts=spark.range(500, 505).select(F.col("id").alias("k"),
                                                  (F.col("id") * 2.0).alias("v")))
    LH.delete_where(spark, path, F.col("k") == 100)  # DV change = v2

    for lo, hi in [(0, 1), (0, 2), (1, 2)]:
        lib = LH.read_changes(spark, path, lo, hi)
        ds = (
            spark.read.format("lakehouse")
            .option("readChangeFeed", "true")
            .option("startingVersion", lo)
            .option("endingVersion", hi)
            .load(path)
        )
        assert sorted(map(tuple, ds.collect())) == \
            sorted(map(tuple, lib.collect())), (lo, hi)


def test_lakehouse_bloom_sound_across_numeric_widths(spark, tmp_path):
    """An int probe against a double bloom column must NOT prune the
    file holding the equal double value (the probe casts through the
    column's recorded native type before hashing)."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_bloom_t")
    df = spark.range(1000).select(F.col("id").alias("k"),
                                  (F.col("id") * 1.0).alias("amount"))
    LH.table_init(df, path, "k", n_files=4, bloom_cols=["amount"])
    r = LH.read_version(spark, path, 0, bloom_filter={"amount": 5})
    assert r.filter(F.col("amount") == 5).count() == 1


def test_lakehouse_datasource_cdf_schema_version_skew(spark, tmp_path):
    """A batch change-feed read whose endingVersion predates a later
    rename must return the range's REAL values under the range-time
    schema, not NULLs under the latest schema."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "lh_ds_skew")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("price"))
    LH.table_init(df, path, "k", n_files=2)
    LH.merge(spark, path, "k",
             updates=spark.range(5).select(F.col("id").alias("k"),
                                           F.lit(0.0).alias("price")))
    LH.rename_column(spark, path, "price", "price_usd")  # v2, after the range
    ds = (
        spark.read.format("lakehouse")
        .option("readChangeFeed", "true")
        .option("startingVersion", 0).option("endingVersion", 1)
        .load(path)
    )
    assert "price" in ds.columns  # range-time schema
    lib = LH.read_changes(spark, path, 0, 1)
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, lib.collect()))
    assert ds.filter("price IS NULL").count() == 0


def test_lakehouse_cdf_stream_across_rename(spark, tmp_path):
    """The streaming CDF source replays column mapping: versions
    written before a rename stream their values under the CURRENT
    logical name, not as NULLs."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources import lakehouse_datasource as LDS

    LDS.register(spark)
    path = str(tmp_path / "lh_cdf_ren")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 1.0).alias("price"))
    LH.table_init(df, path, "k", n_files=2)
    LH.rename_column(spark, path, "price", "price_usd")
    LH.merge(spark, path, "k",
             updates=spark.range(3).select(F.col("id").alias("k"),
                                           F.lit(-1.0).alias("price_usd")))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("lakehouse_cdf").option("path", path).load()
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert "price_usd" in got.columns
    assert got.filter("price_usd IS NULL").count() == 0
    v0_rows = got.filter("_commit_version = 0")
    assert v0_rows.count() == 50
    assert v0_rows.filter("k = 10").first().price_usd == 10.0


def test_ivfpq_encode_empty_batch(spark, sf_dir):
    """An empty append batch returns empty, well-typed frames that
    union cleanly with the fit's relations."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.operators import similarity as S

    e = load_table(spark, "embeddings", sf_dir)
    codebook, cells, codes = S.ivfpq_fit(e.filter("vec_id < 40"))
    cn, qn = S.ivfpq_encode(e.filter("vec_id < 0"), codebook)
    assert cn.count() == 0 and qn.count() == 0
    assert cells.unionByName(cn).count() == cells.count()
    assert codes.unionByName(qn).count() == codes.count()


# ------------------------------------------------- lakehouse SQL surface


def test_lakehouse_sql_statement_surface(spark, tmp_path):
    """The Delta-style statement surface (lakehouse_sql.sql): CTAS,
    SELECT by name, MERGE with first-match-wins clauses, UPDATE,
    DELETE, OPTIMIZE ZORDER, DESCRIBE HISTORY, RESTORE, VACUUM — one
    SQL string journey, no library calls in the user path."""
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_sql")
    spark.range(10).selectExpr("id AS k", "CAST(id * 2.0 AS DOUBLE) AS v") \
        .createOrReplaceTempView("sql_seed")
    sql(spark, f"CREATE TABLE sqt USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM sql_seed")
    assert sql(spark, "SELECT count(*) AS n FROM sqt").first()["n"] == 10

    spark.createDataFrame([(3, 100.0), (5, 200.0), (77, 1.0)],
                          "k long, v double").createOrReplaceTempView("sql_chg")
    sql(spark, """
        MERGE INTO sqt t USING sql_chg s ON t.k = s.k
        WHEN MATCHED AND s.v > 150 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: r.v for r in sql(spark, "SELECT * FROM sqt").collect()}
    assert got[3] == 100.0          # second clause (first no-match)
    assert 5 not in got             # first clause wins
    assert got[77] == 1.0           # insert leg
    assert len(got) == 10

    sql(spark, "UPDATE sqt SET v = v + 0.5 WHERE k = 0")
    sql(spark, "DELETE FROM sqt WHERE k >= 8")
    got = {r.k: r.v for r in sql(spark, "SELECT * FROM sqt").collect()}
    assert got[0] == 0.5 and 8 not in got and 9 not in got

    v_before = sql(spark, "OPTIMIZE sqt ZORDER BY (k, v)").first()["version"]
    hist = sql(spark, "DESCRIBE HISTORY sqt")
    assert hist.count() == v_before + 1

    sql(spark, "RESTORE TABLE sqt TO VERSION AS OF 0")
    assert sql(spark, "SELECT count(*) AS n FROM sqt").first()["n"] == 10
    sql(spark, "VACUUM sqt RETAIN 1 VERSIONS")  # keeps the restored head
    assert sql(spark, "SELECT count(*) AS n FROM sqt").first()["n"] == 10

    # non-lakehouse statements fall through to spark.sql untouched
    assert sql(spark, "SELECT 1 AS one").first()["one"] == 1


def test_lakehouse_sql_inline_path_and_errors(spark, tmp_path):
    """Inline lakehouse.`/path` references work without CREATE; the
    loud-error contract: unknown names, key-less OPTIMIZE, malformed
    MERGE, ON-key vs clustering-key mismatch."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_inline")
    df = spark.range(6).selectExpr("id AS k", "id * 1.0 AS v")
    LH.table_init(df, path, "k", n_files=2)

    sql(spark, f"DELETE FROM lakehouse.`{path}` WHERE k = 4")
    assert LH.read_version(spark, path, LH.current_version(path)).count() == 5
    assert sql(spark, f"DESCRIBE HISTORY lakehouse.`{path}`").count() == 2

    # unregistered names fall through to spark.sql, which raises its
    # own TABLE_OR_VIEW_NOT_FOUND — no silent no-ops either way
    with _pytest.raises(Exception, match="nonesuch_tbl"):
        sql(spark, "DELETE FROM nonesuch_tbl WHERE 1=1")
    with _pytest.raises(Exception, match="nonesuch_tbl"):
        sql(spark, "UPDATE nonesuch_tbl SET x = 1")

    with _pytest.raises(ValueError, match="clustering key"):
        sql(spark, f"OPTIMIZE lakehouse.`{path}`")

    spark.createDataFrame([(1, 9.0)], "k long, v double") \
        .createOrReplaceTempView("inline_chg")
    # r7: AND-conjoined same-name equalities are the composite-key
    # merge (supported); a NON-equality conjunct stays loud
    with _pytest.raises(ValueError, match="AND-conjoined"):
        sql(spark, f"MERGE INTO lakehouse.`{path}` t USING inline_chg s "
                   f"ON t.k = s.k AND t.v > s.v "
                   f"WHEN MATCHED THEN UPDATE SET *")


def test_lakehouse_sql_merge_set_assignments(spark, tmp_path):
    """MERGE ... UPDATE SET c = expr (not SET *): assignments may mix
    source and target references; unassigned columns keep the target
    value; unknown SET targets are loud."""
    import pytest as _pytest

    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_sets")
    spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS a",
                              "CAST(id * 10 AS DOUBLE) AS b") \
        .createOrReplaceTempView("sets_seed")
    sql(spark, f"CREATE TABLE sqs USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM sets_seed")
    spark.createDataFrame([(2, 100.0)], "k long, a double") \
        .createOrReplaceTempView("sets_chg")
    sql(spark, """
        MERGE INTO sqs t USING sets_chg s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET a = s.a + t.b, b = t.b * 2
    """)
    row = {r.k: (r.a, r.b) for r in sql(spark, "SELECT * FROM sqs").collect()}
    assert row[2] == (120.0, 40.0)
    assert row[1] == (1.0, 10.0)

    with _pytest.raises(ValueError, match="unknown columns"):
        sql(spark, """
            MERGE INTO sqs t USING sets_chg s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET nope = 1
        """)


def test_lakehouse_datasource_row_group_splits(spark, tmp_path):
    """Row-group InputPartition splits (VERDICT r6 #5: parallelism was
    capped at one task per file): a small file list splits into one
    task per parquet row group; DV positions — file-global row
    indices — rebase correctly inside each split (the boundary bug
    this test exists for); many-file reads keep one-partition-per-file
    (no O(files) footer I/O); split_files_below=0 disables splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import (
        LakehouseReader, register)

    register(spark)
    path = str(tmp_path / "lh_rg")
    os.makedirs(path)
    # one file, 4 row groups of 250 rows each
    tbl = pa.table({"k": list(range(1000)),
                    "v": [float(i) for i in range(1000)]})
    pq.write_table(tbl, os.path.join(path, "big.parquet"),
                   row_group_size=250)
    LH.convert_to_lakehouse(spark, path, stats_cols=["k"])

    reader = LakehouseReader(
        path, 0, T.StructType([T.StructField("k", T.LongType())]))
    parts = reader.partitions()
    assert len(parts) == 4                      # one task per row group
    assert [p.row_start for p in parts] == [0, 250, 500, 750]

    df = spark.read.format("lakehouse").load(path)
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r.k for r in df.collect()) == list(range(1000))

    # DVs: delete rows straddling every split boundary, incl. the
    # exact first/last row of inner groups
    LH.delete_where(spark, path, "k IN (0, 249, 250, 499, 500, 999)")
    got = sorted(r.k for r in spark.read.format("lakehouse")
                 .load(path).collect())
    assert got == sorted(set(range(1000)) - {0, 249, 250, 499, 500, 999})

    # opt-out pins whole-file tasks
    assert len(LakehouseReader(
        path, 0, T.StructType([T.StructField("k", T.LongType())]),
        split_threshold=0).partitions()) == 1
    assert spark.read.format("lakehouse").option("split_files_below", 0) \
        .load(path).rdd.getNumPartitions() == 1


def test_lakehouse_datasource_pushdown_prunes_files(spark, tmp_path):
    """format("lakehouse") filter pushdown: partition-value equality
    and stats-range predicates drop whole files at PLAN time (the
    log's partition values + [min, max] stats), while every filter is
    handed back to Spark for row-level re-evaluation — results equal
    the unpruned read. The reader is also probed directly so the test
    pins the pruned InputPartition count, not just the row values."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import (
        LakehouseReader, register as register_ds,
    )

    register_ds(spark)

    # partitioned table: one Hive partition per grp value
    ppath = str(tmp_path / "lh_pushdown_part")
    df = spark.range(400).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS grp", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, ppath, "k", n_files=2, partition_by=["grp"])
    v = LH.current_version(ppath)
    sch = spark.read.format("lakehouse").load(ppath).schema

    rdr = LakehouseReader(ppath, v, sch)
    n_all = len(rdr.partitions())
    leftover = list(rdr.pushFilters([EqualTo(("grp",), 2)]))
    assert len(leftover) == 1          # handed back for re-evaluation
    n_pruned = len(rdr.partitions())
    assert 0 < n_pruned < n_all
    got = spark.read.format("lakehouse").load(ppath).filter("grp = 2")
    assert got.count() == 100 and got.agg({"k": "min"}).first()[0] == 2

    # stats table: range predicate on the clustered key
    spath = str(tmp_path / "lh_pushdown_stats")
    LH.table_init(df.drop("grp"), spath, "k", n_files=8, stats_cols=["k"])
    v = LH.current_version(spath)
    sch = spark.read.format("lakehouse").load(spath).schema
    rdr = LakehouseReader(spath, v, sch)
    n_all = len(rdr.partitions())
    list(rdr.pushFilters([GreaterThanOrEqual(("k",), 300),
                          LessThan(("k",), 350)]))
    assert len(rdr.partitions()) < n_all
    got = spark.read.format("lakehouse").load(spath) \
        .filter("k >= 300 AND k < 350")
    assert got.count() == 50


def test_lakehouse_datasource_columns_projection(spark, tmp_path):
    """.option("columns", ...): the schema narrows to the requested
    fields and read() decodes only those parquet columns (the Python
    DataSource API has no requiredSchema hook, so this option is the
    column-pruning handle); unknown names are loud; projection
    composes with rename replay (requesting the NEW name reads files
    that store the OLD physical name)."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.sources.lakehouse_datasource import (
        register as register_ds,
    )

    register_ds(spark)
    path = str(tmp_path / "lh_cols")
    df = spark.range(50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
                                    "CAST(id % 3 AS INT) AS tag")
    LH.table_init(df, path, "k", n_files=2)
    got = spark.read.format("lakehouse").option("columns", "k,tag").load(path)
    assert got.columns == ["k", "tag"]
    assert got.count() == 50 and got.agg({"tag": "max"}).first()[0] == 2

    with _pytest.raises(Exception, match="unknown columns"):
        spark.read.format("lakehouse").option("columns", "nope").load(path) \
            .count()

    # rename, then project the new name: old-vintage files feed it
    LH.rename_column(spark, path, "v", "score")
    got = spark.read.format("lakehouse").option("columns", "score") \
        .load(path)
    assert got.columns == ["score"]
    assert got.agg({"score": "sum"}).first()[0] == sum(range(50))


def test_lakehouse_pruned_dml_many_files(spark, tmp_path):
    """Predicate-scoped MOR DML on a many-file table: delete_where /
    update_where accept the same partition_filter / stats_filter
    pruning aids as read_version, so a partition-local DELETE scans
    ONE partition's files instead of the whole snapshot (pinned via
    the pruned file list), planning stays log-only (no data I/O to
    plan), and results equal the unpruned semantics."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_many")
    # 120 Hive partitions, one file each
    df = spark.range(6000).selectExpr(
        "id AS k", "CAST(id % 120 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=1, partition_by=["part"])
    v0 = LH.current_version(path)
    rel_files = LH.files_at_version(path, v0)
    assert len(rel_files) >= 120

    # planner-side pruning: one partition → its files only
    pruned = LH._prune_files_for_dml(rel_files, None, {"part": "7"}, None)
    assert 0 < len(pruned) < len(rel_files)
    assert all("part=7/" in f for f in pruned)

    # pruned read matches: the scan touches only matching files
    got = LH.read_version(spark, path, v0, partition_filter={"part": ["7"]})
    assert got.count() == 50
    assert all("part=7" in f for f in got.inputFiles())

    # partition-scoped DELETE: correct rows gone, everything else kept
    v1 = LH.delete_where(spark, path, "part = 7 AND k < 1000",
                         partition_filter={"part": "7"})
    assert v1 == v0 + 1
    after = LH.read_version(spark, path, v1)
    assert after.filter("part = 7").count() == 50 - after.filter(
        "part = 7 AND k < 1000").limit(0).count() - 9  # keys 7,127,...,967
    assert after.count() == 6000 - 9

    # partition-scoped UPDATE through the same aid
    v2 = LH.update_where(spark, path, "k", {"v": F.col("v") + 1000},
                         "part = 11", partition_filter={"part": "11"})
    assert v2 == v1 + 1
    upd = LH.read_version(spark, path, v2).filter("part = 11")
    assert upd.count() == 50
    assert upd.agg(F.min("v")).first()[0] == 11 + 1000

    # a filter matching nothing is a no-op version-wise
    assert LH.delete_where(spark, path, "part = 999",
                           partition_filter={"part": "999"}) == v2


def test_lakehouse_sql_insert_into(spark, tmp_path):
    """INSERT INTO through the SQL surface: blind append (duplicates
    allowed — dedup is MERGE's job) via the DataSource writer's OCC
    commit; positional VALUES, named column lists null-fill, arity
    and unknown-column errors are loud."""
    import pytest as _pytest

    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_ins")
    spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
                              "CAST(id AS STRING) AS tag") \
        .createOrReplaceTempView("ins_seed")
    sql(spark, f"CREATE TABLE sqi USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM ins_seed")

    sql(spark, "INSERT INTO sqi VALUES (10, 1.5, 'x'), (11, 2.5, 'y')")
    assert sql(spark, "SELECT count(*) AS n FROM sqi").first()["n"] == 5

    # named subset: v/tag null-fill; duplicates of an existing key append
    sql(spark, "INSERT INTO sqi (k) VALUES (0)")
    rows = sql(spark, "SELECT * FROM sqi WHERE k = 0").collect()
    assert len(rows) == 2 and any(r.v is None for r in rows)

    # INSERT ... SELECT
    sql(spark, "INSERT INTO sqi SELECT k + 100, v, tag FROM ins_seed")
    assert sql(spark, "SELECT count(*) AS n FROM sqi").first()["n"] == 9

    with _pytest.raises(ValueError, match="unknown columns"):
        sql(spark, "INSERT INTO sqi (nope) VALUES (1)")
    with _pytest.raises(ValueError, match="values for"):
        sql(spark, "INSERT INTO sqi VALUES (1, 2.0)")
    # non-lakehouse INSERT falls through to spark.sql
    with _pytest.raises(Exception, match="nonesuch"):
        sql(spark, "INSERT INTO nonesuch_t VALUES (1)")

    # identity table: INSERT binds only the visible columns; ids
    # allocate from the watermark (lakehouse.append has the session
    # the DataSource writer lacks)
    from bigdata06_spark import lakehouse as LH

    ipath = str(tmp_path / "lh_ins_ident")
    base = spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(base, ipath, "k", identity_col="rid")
    from bigdata06_spark.lakehouse_sql import register_table
    register_table(spark, "sqident", ipath, "k")
    sql(spark, "INSERT INTO sqident VALUES (20, 5.0), (10, 4.0)")
    got = {r.k: r.rid for r in sql(spark, "SELECT * FROM sqident").collect()}
    assert got[10] == 4 and got[20] == 5  # key-ordered continuation


def test_lakehouse_convert_in_place(spark, tmp_path):
    """CONVERT TO LAKEHOUSE: adopt a directory of plain parquet as
    version 0 with ZERO data movement (files listed absolutely, the
    clone convention); stats recorded at conversion prune from v0; a
    later merge rewrites only overlapping adopted files and time
    travel back to v0 still reads the originals."""
    import glob as _glob

    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "plain_parquet")
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df.repartitionByRange(4, "k").sortWithinPartitions("k") \
        .write.parquet(path)
    before = sorted(_glob.glob(path + "/*.parquet"))

    sql(spark, f"CONVERT TO LAKEHOUSE parquet.`{path}` STATS (k)")
    assert LH.current_version(path) == 0
    assert sorted(_glob.glob(path + "/*.parquet")) == before  # zero copy

    # reads resolve the absolute-listed adopted files
    v0 = LH.read_version(spark, path, 0)
    assert v0.count() == 1000
    # stats skipping works from v0
    pruned = LH.read_version(spark, path, 0, stats_filter={"k": (0, 10)})
    assert len(pruned.inputFiles()) < 4 and pruned.filter("k <= 10").count() == 11

    # a key-local merge rewrites only the overlapping adopted file(s)
    upd = spark.createDataFrame([(5, -1.0)], "k long, v double")
    v1 = LH.merge(spark, path, "k", updates=upd)
    after = LH.read_version(spark, path, v1)
    assert after.count() == 1000
    assert after.filter("k = 5").first()["v"] == -1.0
    carried = set(LH.files_at_version(path, v1)) & set(before)
    assert len(carried) == 3  # 3 of 4 adopted files carry over untouched
    # time travel to the pre-convert snapshot
    assert LH.read_version(spark, path, 0).filter("k = 5").first()["v"] == 5.0

    with _pytest.raises(ValueError, match="already a lakehouse"):
        LH.convert_to_lakehouse(spark, path)


def test_lakehouse_sql_merge_not_matched_by_source(spark, tmp_path):
    """Delta's WHEN NOT MATCHED BY SOURCE: target rows absent from the
    source delete or update (full-sync semantics — the source IS the
    desired state); conditions see only the target row; first-match-
    wins within the clause family; SET * is loud (no source row)."""
    import pytest as _pytest

    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_bysrc")
    spark.range(6).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .createOrReplaceTempView("bs_seed")
    sql(spark, f"CREATE TABLE sqbs USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM bs_seed")
    spark.createDataFrame([(1, 100.0), (9, 9.0)], "k long, v double") \
        .createOrReplaceTempView("bs_chg")
    sql(spark, """
        MERGE INTO sqbs t USING bs_chg s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.k >= 4 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v * -1
    """)
    got = {r.k: r.v for r in sql(spark, "SELECT * FROM sqbs").collect()}
    assert got[1] == 100.0 and got[9] == 9.0     # matched update + insert
    assert 4 not in got and 5 not in got          # by-source delete (k>=4)
    assert got[2] == -2.0 and got[3] == -3.0      # by-source update (rest)
    assert got[0] == 0.0                          # -0.0 == 0.0

    with _pytest.raises(ValueError, match="meaningless"):
        sql(spark, """
            MERGE INTO sqbs t USING bs_chg s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *
        """)


def test_lakehouse_append_occ_race(spark, tmp_path):
    """append participates in the same OCC protocol as every writer:
    two appends that both computed current_version()+1 race on the
    log's O_EXCL create — exactly one wins, the loser raises with the
    table unchanged by its attempt, and the orphaned files are
    invisible (vacuum food)."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_append_race")
    df = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k")
    # simulate the race: steal the version the second writer computed
    batch = spark.createDataFrame([(100, 1.0)], "k long, v double")
    v1 = LH.append(spark, path, "k", batch)
    assert v1 == 1
    # a writer that staged files against v1 loses the commit
    LH._commit_log(path, 2, {"add": [], "remove": [], "op": "WRITE"})
    with _pytest.raises(LH.CommitConflictError):
        LH._commit_log(path, 2, {"add": [], "remove": [], "op": "APPEND"})
    # the real append recomputes and lands cleanly after
    v3 = LH.append(spark, path, "k",
                   spark.createDataFrame([(101, 2.0)], "k long, v double"))
    assert v3 == 3
    live = LH.read_version(spark, path, v3)
    assert live.count() == 12


def test_lakehouse_sql_create_or_replace(spark, tmp_path):
    """CREATE OR REPLACE ... AS swaps the table's contents as a NEW
    version (history stays time-travelable); plain CREATE ... AS on
    an existing table is loud."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_cor")
    spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .createOrReplaceTempView("cor_seed")
    sql(spark, f"CREATE TABLE sqcor USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM cor_seed")
    with _pytest.raises(ValueError, match="already exists"):
        sql(spark, f"CREATE TABLE sqcor USING lakehouse TBLPROPERTIES "
                   f"('key' 'k') LOCATION '{path}' AS SELECT * FROM cor_seed")
    sql(spark, f"CREATE OR REPLACE TABLE sqcor USING lakehouse "
               f"TBLPROPERTIES ('key' 'k') LOCATION '{path}' "
               f"AS SELECT k, v * 10 AS v FROM cor_seed")
    got = {r.k: r.v for r in sql(spark, "SELECT * FROM sqcor").collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 20.0, 3: 30.0}
    # the pre-replace snapshot is still readable
    assert LH.read_version(spark, path, 0).agg({"v": "max"}).first()[0] == 3.0


def test_lakehouse_incremental_zorder_clustering(spark, tmp_path):
    """Incremental clustering (the liquid-clustering contract):
    appended files fold into the FROZEN quantile grid — clustered
    files carry over by reference (cost O(new data)), the mixed
    layout prunes on both clustered axes, checkpoint preserves the
    grid, and running it with nothing new is a no-op version-wise."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_liquid")
    df = spark.range(0, 40000).selectExpr(
        "id AS k",
        "CAST(id * 48271 % 40000 AS BIGINT) AS x",
        "CAST(id * 16807 % 40000 AS BIGINT) AS y",
    )
    LH.table_init(df, path, "k", n_files=4, stats_cols=["x", "y"])
    v1 = LH.optimize(spark, path, "k", n_files=16, zorder_by=["x", "y"])
    meta = LH.table_zorder_meta(path)
    assert meta and meta["cols"] == ["x", "y"] and len(meta["clustered"]) == 16

    # new data arrives unclustered
    extra = spark.range(40000, 60000).selectExpr(
        "id AS k",
        "CAST(id * 48271 % 40000 AS BIGINT) AS x",
        "CAST(id * 16807 % 40000 AS BIGINT) AS y",
    )
    v2 = LH.append(spark, path, "k", extra, n_files=3)
    clustered_before = set(LH.table_zorder_meta(path)["clustered"])

    v3 = LH.optimize_zorder_incremental(spark, path, n_files=4)
    assert v3 == v2 + 1
    live = set(LH.files_at_version(path, v3))
    # every originally-clustered file carried over by reference
    assert clustered_before <= live
    # only the appended files were rewritten (3 removed, ≤4 added)
    import json as _json
    entry = _json.load(open(f"{path}/_log/{v3}.json"))
    assert len(entry["remove"]) == 3 and 1 <= len(entry["add"]) <= 4
    # the grid froze: same edges object
    assert LH.table_zorder_meta(path)["edges"] == meta["edges"]

    # the mixed layout still prunes a y-band on file stats
    pruned = LH.read_version(spark, path, v3, stats_filter={"y": (0, 4000)})
    assert len(pruned.inputFiles()) < len(live)
    assert pruned.filter("y <= 4000").count() == \
        LH.read_version(spark, path, v3).filter("y <= 4000").count()
    assert LH.read_version(spark, path, v3).count() == 60000

    # idempotent when nothing new; grid survives a checkpoint squash
    assert LH.optimize_zorder_incremental(spark, path) == v3
    LH.checkpoint_log(path)
    meta2 = LH.table_zorder_meta(path)
    assert meta2["edges"] == meta["edges"]
    assert set(meta2["clustered"]) <= set(LH.files_at_version(
        path, LH.current_version(path)))


def test_lakehouse_manifest_full_and_incremental(spark, tmp_path):
    """Relational snapshot manifest (lakehouse_manifest): the parquet
    mirror of one version's per-file metadata. Full rebuild matches
    the driver replay exactly (files, partition values, stats bounds,
    DV lists); a merge + MOR delete then folds INCREMENTALLY — the
    driver parses only the delta entries, the old file list never
    leaves parquet — and matches the replay again; checkpoint/RESTORE
    entries in the delta window force a full rebuild."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_mf")
    df = spark.range(6000).selectExpr(
        "id AS k", "CAST(id % 12 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=3, partition_by=["part"],
                  stats_cols=["k", "v"])
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "full" and r["version"] == 0

    files0 = LH.files_at_version(path, 0)
    st0 = LH.file_stats_at(path, 0)
    rows = {x["file"]: x for x in M.manifest_df(spark, path).collect()}
    assert sorted(rows) == files0
    for f, row in rows.items():
        assert row["p_part"] == LH._pvals_of_rel(f).get("part")
        s = st0.get(f, {})
        if "k" in s:
            assert row["mnn_k"] == float(s["k"][0])
            assert row["mxn_k"] == float(s["k"][1])
        assert row["dv"] == []

    # mutate: COW merge + MOR delete; fold must be incremental
    o = LH.read_version(spark, path, 0)
    upd = o.filter("k < 100").select("k", "part").withColumn("v", F.lit(0.0))
    LH.merge(spark, path, "k", updates=upd)
    LH.delete_where(spark, path, "k >= 5000 AND k < 5100")
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "incremental"
    vN = LH.current_version(path)
    snapN = LH.snapshot(path, vN)
    filesN, dvsN = sorted(snapN.files), snapN.dvs
    rows = {x["file"]: x for x in M.manifest_df(spark, path).collect()}
    assert sorted(rows) == filesN
    for f, lst in dvsN.items():
        assert sorted(rows[f]["dv"]) == sorted(lst)
    stN = LH.file_stats_at(path, vN)
    for f, row in rows.items():
        s = stN.get(f, {})
        if "v" in s and s["v"][0] is not None:
            assert row["mnn_v"] == float(s["v"][0])

    # refresh at same version: noop
    assert M.refresh_manifest(spark, path)["mode"] == "noop"

    # a checkpoint inside the delta window resets state -> full
    LH.append(spark, path, "k",
              spark.range(6000, 6100).selectExpr(
                  "id AS k", "CAST(id % 12 AS INT) AS part",
                  "CAST(id AS DOUBLE) AS v"))
    LH.checkpoint_log(path)
    LH.append(spark, path, "k",
              spark.range(6100, 6200).selectExpr(
                  "id AS k", "CAST(id % 12 AS INT) AS part",
                  "CAST(id AS DOUBLE) AS v"))
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "full"
    vF = LH.current_version(path)
    assert sorted(
        x["file"] for x in M.manifest_df(spark, path).collect()
    ) == LH.files_at_version(path, vF)


def test_lakehouse_manifest_planning_parity(spark, tmp_path):
    """plan_files / read_at_manifest vs read_version: the manifest's
    relational pruning (partition + stats, numeric and string-typed
    bounds) picks the same file sets and reads the same bytes; the
    plan itself collects only surviving rows."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_mfplan")
    df = spark.range(4800).selectExpr(
        "id AS k", "CAST(id % 8 AS INT) AS part",
        "CAST(id AS DOUBLE) AS v",
        "concat('u', lpad(CAST(id AS STRING), 6, '0')) AS tag")
    LH.table_init(df, path, "k", n_files=4, partition_by=["part"],
                  stats_cols=["k", "tag"])
    LH.delete_where(spark, path, "k % 97 = 0")  # scatter some DVs
    M.refresh_manifest(spark, path)
    vN = LH.current_version(path)

    # partition pruning parity
    _, pf, pdv = M.plan_files(spark, path, partition_filter={"part": "3"})
    assert pf and all("part=3/" in f for f in pf)
    ref = LH.read_version(spark, path, vN, partition_filter={"part": ["3"]})
    got = M.read_at_manifest(spark, path, partition_filter={"part": "3"})
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))

    # numeric stats bound
    _, pf2, _ = M.plan_files(spark, path, stats_filter={"k": (100, 220)})
    allf = LH.files_at_version(path, vN)
    assert 0 < len(pf2) < len(allf)
    got2 = M.read_at_manifest(spark, path, stats_filter={"k": (100, 220)})
    ref2 = LH.read_version(spark, path, vN, stats_filter={"k": (100, 220)})
    assert got2.filter("k BETWEEN 100 AND 220").count() == \
        ref2.filter("k BETWEEN 100 AND 220").count()

    # string-typed bound prunes on the lexicographic columns
    _, pf3, _ = M.plan_files(
        spark, path, stats_filter={"tag": ("u000100", "u000220")})
    assert 0 < len(pf3) < len(allf)
    got3 = M.read_at_manifest(
        spark, path, stats_filter={"tag": ("u000100", "u000220")})
    assert got3.filter("tag BETWEEN 'u000100' AND 'u000220'").count() == \
        ref2.filter("tag BETWEEN 'u000100' AND 'u000220'").count()

    # unknown columns are loud
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not partitioned"):
        M.plan_files(spark, path, partition_filter={"nope": "1"})
    with _pytest.raises(ValueError, match="no stats"):
        M.plan_files(spark, path, stats_filter={"v": (0, 1)})


def test_lakehouse_read_version_defaults_to_manifest(spark, tmp_path, monkeypatch):
    """read_version PLANS THROUGH THE MANIFEST by default (VERDICT r6
    #2): with a fresh manifest, the hot read path performs NO JSON-log
    replay (a per-file LH.snapshot monkeypatched to raise); a write makes
    the manifest stale and the NEXT read auto-refreshes it with the
    incremental fold (still no full replay); DML (delete_where /
    update_where) inherits the manifest plan; time travel BEHIND the
    manifest and `use_manifest=False` fall back to log replay."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_default")
    df = spark.range(3000).selectExpr(
        "id AS k", "CAST(id % 6 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=3, partition_by=["part"],
                  stats_cols=["k"])
    LH.delete_where(spark, path, "k % 101 = 0")  # some DVs at v1
    M.refresh_manifest(spark, path)
    v1 = LH.current_version(path)
    expect_all = sorted(r.k for r in LH.read_version(
        spark, path, v1, use_manifest=False).collect())
    expect_p2 = sorted(r.k for r in LH.read_version(
        spark, path, v1, partition_filter={"part": "2"},
        use_manifest=False).collect())

    real_snapshot = LH.snapshot

    def _boom(path, version=None, bulk=LH._CKPT_BULK):
        if bulk:  # metadata-only snapshots are not a file-list replay
            raise AssertionError("log replay used on a manifest-fresh path")
        return real_snapshot(path, version, bulk)

    monkeypatch.setattr(LH, "snapshot", _boom)

    # fresh manifest: plain read + partition/stats-pruned reads, zero
    # log replay
    assert sorted(r.k for r in LH.read_version(
        spark, path, v1).collect()) == expect_all
    assert sorted(r.k for r in LH.read_version(
        spark, path, v1, partition_filter={"part": "2"}).collect()) == expect_p2
    few = LH.read_version(spark, path, v1, stats_filter={"k": (0, 400)})
    assert few.filter("k <= 400").count() == sum(1 for k in expect_all if k <= 400)

    # DML inherits the manifest plan (write-side log walks are fine;
    # the SNAPSHOT plan must not replay)
    v2 = LH.delete_where(spark, path, "k >= 2990")
    assert v2 == v1 + 1
    v3 = LH.update_where(spark, path, "k", {"v": "v + 0.5"}, "k < 3")
    assert v3 == v2 + 1

    # the DML went through: next read (auto-refreshes the fold) agrees
    got = {r.k: r.v for r in LH.read_version(spark, path, v3).collect()}
    # k=0 went with the k%101 delete; k=1,2 carry the +0.5 update
    assert max(got) == 2989 and 0 not in got
    assert got[1] == 1.5 and got[2] == 2.5
    assert M.manifest_meta(path)["version"] == v3

    # time travel BEHIND the manifest needs the replay path
    with pytest.raises(AssertionError, match="log replay"):
        LH.read_version(spark, path, 0).collect()
    monkeypatch.setattr(LH, "snapshot", real_snapshot)
    assert LH.read_version(spark, path, 0).count() == 3000
    # and the explicit opt-out pins replay planning
    assert sorted(r.k for r in LH.read_version(
        spark, path, v3, use_manifest=False).collect()) == sorted(got)


def test_lakehouse_bloom_probe_plans_via_manifest(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4 — the point-lookup path plans relationally: with
    a fresh manifest, read_version(bloom_filter=...) neither replays
    the JSON log for the file list nor for the bitmaps (a per-file
    LH.snapshot is monkeypatched to raise) — and its
    pruned file set is byte-identical to the replay path's. The
    bitmap membership test runs as JVM expressions over the
    manifest's bl_* columns (lakehouse_manifest._bloom_prune_expr);
    at a million files this is a parquet scan of one string column,
    not seconds of driver JSON."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_bloom_mf")
    df = spark.range(30000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(8000)).alias("cust"),
        (F.col("id") * 1.5).alias("val"))
    LH.table_init(df, path, "k", n_files=12, bloom_cols=["cust"],
                  stats_cols=["k"])
    target = int(df.filter("k = 123").first().cust)
    truth = df.filter(F.col("cust") == target).count()
    M.refresh_manifest(spark, path)
    assert M.manifest_meta(path)["bcols"] == ["cust"]

    # ground truth from the replay path BEFORE poisoning it
    replay = LH.read_version(spark, path, 0, bloom_filter={"cust": target},
                             use_manifest=False)
    replay_files = sorted(replay.inputFiles())
    n_all = len(LH.files_at_version(path, 0))
    assert len(replay_files) < n_all

    real_snapshot = LH.snapshot

    def _boom(path, version=None, bulk=LH._CKPT_BULK):
        if bulk:
            raise AssertionError("JSON-log replay used on a bloom probe "
                                 "with a fresh manifest")
        return real_snapshot(path, version, bulk)

    monkeypatch.setattr(LH, "snapshot", _boom)

    probed = LH.read_version(spark, path, 0, bloom_filter={"cust": target})
    assert sorted(probed.inputFiles()) == replay_files
    assert probed.filter(F.col("cust") == target).count() == truth
    # bloom composes with the other pruning axes on the manifest plan
    both = LH.read_version(spark, path, 0, bloom_filter={"cust": target},
                           stats_filter={"k": (0, 10**9)})
    assert sorted(both.inputFiles()) == replay_files
    # NULL lookup value keeps every file (sound), still without replay
    keep = LH.read_version(spark, path, 0, bloom_filter={"cust": None})
    assert len(keep.inputFiles()) == n_all

    # a PRE-UPGRADE manifest meta (no bloom spec recorded) must fall
    # back to the replay path rather than silently lose the pruning
    # axis — with the replay poisoned, the planner returning None
    # surfaces as the AssertionError
    meta = M.manifest_meta(path)
    legacy = {k: v for k, v in meta.items() if k not in ("bcols", "bloom")}
    M._swap_meta(path, legacy)
    with pytest.raises(AssertionError, match="JSON-log replay"):
        LH.read_version(spark, path, 0,
                        bloom_filter={"cust": target}).collect()
    M._swap_meta(path, meta)


def test_lakehouse_manifest_prune_soundness_edges(spark, tmp_path):
    """Advisor-flagged soundness edges of the manifest pruning
    predicate (_prune_expr), exercised on a constructed manifest
    frame: (a) a NULL partition value (CONVERT-adopted layout with no
    path-encoded value) must KEEP the file — isin alone yields NULL
    and silently drops it; (b) a string bound against a NUMERIC stat
    (numeric shadow non-NULL) is a type mismatch and must keep the
    file — lexicographic '10' < '5' would wrongly prune; genuinely
    string stats still prune lexicographically."""
    from bigdata06_spark import lakehouse_manifest as M

    schema = M._manifest_schema(["part"], ["k"])
    rows = [
        # file, p_part, mn_k, mx_k, mnn_k, mxn_k, dv
        ("adopted.parquet", None, "1", "2", 1.0, 2.0, []),
        ("part=3/a.parquet", "3", "5", "10", 5.0, 10.0, []),
        ("part=4/b.parquet", "4", "apple", "mango", None, None, []),
    ]
    df = spark.createDataFrame(rows, schema)

    # (a) NULL partition value survives a partition filter
    kept = {r["file"] for r in df.filter(
        M._prune_expr(["part"], ["k"], {"part": "3"}, None)).collect()}
    assert kept == {"adopted.parquet", "part=3/a.parquet"}

    # (b) string bound "5".."9" vs numeric stat [5,10]: '10' < '5'
    # lexicographically, but the numeric shadow marks it a type
    # mismatch -> file kept; the true-string file prunes normally
    kept = {r["file"] for r in df.filter(
        M._prune_expr(["part"], ["k"], None, {"k": ("5", "9")})).collect()}
    assert "part=3/a.parquet" in kept          # type mismatch keeps
    assert "part=4/b.parquet" not in kept      # 'mango' < '5' prunes
    kept = {r["file"] for r in df.filter(
        M._prune_expr(["part"], ["k"], None, {"k": ("b", "z")})).collect()}
    assert "part=4/b.parquet" in kept          # ['apple','mango'] ∩ [b,z]


def test_lakehouse_manifest_fold_order_and_sweep(spark, tmp_path):
    """(a) The incremental fold is ORDER-SENSITIVE like log replay: a
    file removed in one delta entry and re-added by a later entry
    survives with its new stats; added-then-removed vanishes. (b) The
    superseded manifest dir is NOT deleted at swap time (a concurrent
    reader holding the old meta may still be scanning it) — it is
    swept only once past the age guard."""
    import time as _time

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_fold")
    df = spark.range(200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=2, stats_cols=["k"])
    m0 = M.refresh_manifest(spark, path)
    files0 = LH.files_at_version(path, 0)
    victim = files0[0]

    # hand-craft delta entries: v1 removes `victim`, v2 re-adds the
    # SAME path (legal log; uuid naming merely makes it rare), and a
    # third path is added in v1 then removed in v2
    LH._commit_log(path, 1, {"op": "TEST", "remove": [victim],
                             "add": ["data/transient.parquet"]})
    LH._commit_log(path, 2, {"op": "TEST",
                             "remove": ["data/transient.parquet"],
                             "add": [victim],
                             "stats": {victim: {"k": [0, 99]}}})
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "incremental"
    rows = {x["file"]: x for x in M.manifest_df(spark, path).collect()}
    replay_files = LH.files_at_version(path, 2)
    assert sorted(rows) == replay_files          # == log replay
    assert victim in rows                        # re-add survived
    assert rows[victim]["mnn_k"] == 0.0          # with the NEW stats
    assert "data/transient.parquet" not in rows  # add-then-remove gone

    # (b) old manifest dir still on disk right after the swap...
    assert os.path.isdir(m0["dir"])
    # ...and swept once past the age guard
    old = _time.time() - M._SWEEP_AGE_SEC - 5
    os.utime(m0["dir"], (old, old))
    M._sweep_superseded(path, keep_dir=M.manifest_meta(path)["dir"])
    assert not os.path.isdir(m0["dir"])


def test_lakehouse_manifest_incremental_schema_fold(spark, tmp_path,
                                                    monkeypatch):
    """The incremental refresh folds schema actions from the DELTA
    entries alone (meta acts + the log step) — asserting no
    LH.snapshot re-walk — and its folded acts/logical order
    match the full replay; a schema-PINNING entry (RESTORE's
    schema_actions_set) forces a full rebuild instead of a wrong
    fold."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M

    path = str(tmp_path / "lh_actfold")
    LH.table_init(spark.range(100).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"), path, "k", n_files=2)
    M.refresh_manifest(spark, path)
    LH.add_column(path, "tag", "string")
    LH.rename_column(spark, path, "v", "score")
    want = LH.snapshot(path, LH.current_version(path))
    want_acts, want_order = want.acts, want.logical_cols

    real = LH.snapshot

    def _boom(*a, **kw):
        raise AssertionError("full log re-walk inside an incremental fold")

    monkeypatch.setattr(LH, "snapshot", _boom)
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "incremental"
    assert r["acts"] == want_acts and r["logical_cols"] == want_order
    monkeypatch.setattr(LH, "snapshot", real)

    # reads through the folded meta replay correctly
    got = M.read_at_manifest(spark, path)
    assert got.columns == ["k", "score", "tag"]
    assert got.agg(F.sum("score")).first()[0] == sum(range(100))

    # RESTORE pins the action list → fold refuses, full rebuild
    LH.restore(path, 0)
    r = M.refresh_manifest(spark, path)
    assert r["mode"] == "full"
    assert M.read_at_manifest(spark, path).columns == ["k", "v"]


def test_lakehouse_copy_into_mtime_idempotence(spark, tmp_path):
    """COPY INTO keys idempotence on path+size+mtime (Delta
    semantics): re-running the same statement loads nothing, but a
    source file rewritten IN PLACE with different same-size content
    is detected as new and re-loaded."""
    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_copy")
    LH.table_init(
        spark.range(0).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
        path, "k", n_files=1)
    land = tmp_path / "land"
    land.mkdir()
    src = str(land / "a.json")
    with open(src, "w") as fh:
        fh.write('{"k": 1, "s": "aa"}\n')
    v1, nf, nr = LH.copy_into(spark, path, "k", str(land), "json")
    assert (nf, nr) == (1, 1)
    # same file again: no-op
    _, nf, nr = LH.copy_into(spark, path, "k", str(land), "json")
    assert (nf, nr) == (0, 0)
    # in-place rewrite, SAME byte size, bumped mtime -> re-loaded
    with open(src, "w") as fh:
        fh.write('{"k": 2, "s": "bb"}\n')
    os.utime(src, (os.path.getmtime(src) + 2, os.path.getmtime(src) + 2))
    _, nf, nr = LH.copy_into(spark, path, "k", str(land), "json")
    assert (nf, nr) == (1, 1)
    got = sorted(
        (r.k, r.s)
        for r in LH.read_version(spark, path, LH.current_version(path))
        .collect())
    assert got == [(1, "aa"), (2, "bb")]


def test_lakehouse_sql_alter_and_detail(spark, tmp_path):
    """SQL ALTER TABLE surface: ADD COLUMN(S) (incl. decimal with
    embedded comma), RENAME COLUMN, DROP COLUMN, ADD/DROP CONSTRAINT
    — each a zero-rewrite metadata version dispatched onto the
    library's schema-action log; DESCRIBE DETAIL returns the one-row
    Delta-style metadata summary; non-lakehouse ALTERs fall through
    to spark.sql."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_sql as LSQL

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=2)
    LSQL.register_table(spark, "t_alter", path, "k")

    files_before = LH.files_at_version(path, LH.current_version(path))
    LSQL.sql(spark,
             "ALTER TABLE t_alter ADD COLUMNS (tag string, amt decimal(10,2))")
    assert LSQL.sql(spark, "SELECT * FROM t_alter").columns == \
        ["k", "v", "tag", "amt"]
    LSQL.sql(spark, "ALTER TABLE t_alter RENAME COLUMN v TO score")
    LSQL.sql(spark, "ALTER TABLE t_alter DROP COLUMN tag")
    got = LSQL.sql(spark, "SELECT * FROM t_alter")
    assert got.columns == ["k", "score", "amt"]
    assert got.agg(F.sum("score")).first()[0] == sum(range(100))
    # all four actions were metadata-only: same data files
    assert LH.files_at_version(path, LH.current_version(path)) == files_before

    LSQL.sql(spark, "ALTER TABLE t_alter ADD CONSTRAINT pos CHECK (k >= 0)")
    assert LH.table_constraints(path) == {"pos": "k >= 0"}
    with _pytest.raises(LH.ConstraintViolationError):
        LH.merge(spark, path, "k", inserts=spark.range(-5, -1).selectExpr(
            "id AS k", "CAST(0 AS DOUBLE) AS score",
            "CAST(NULL AS DECIMAL(10,2)) AS amt"))
    LSQL.sql(spark, "ALTER TABLE t_alter DROP CONSTRAINT pos")
    assert LH.table_constraints(path) == {}

    d = LSQL.sql(spark, "DESCRIBE DETAIL t_alter").first()
    assert d["format"] == "lakehouse" and d["numFiles"] == 2
    assert d["clusteringKey"] == "k" and d["sizeInBytes"] > 0
    assert d["version"] == LH.current_version(path)

    # unparseable action / unknown table are loud
    with _pytest.raises(ValueError, match="unsupported ALTER"):
        LSQL.sql(spark, "ALTER TABLE t_alter SET TBLPROPERTIES ('a'='b')")
    with _pytest.raises(Exception):
        LSQL.sql(spark, "ALTER TABLE not_registered ADD COLUMN x int")


def test_lakehouse_merge_composite_key(spark, tmp_path):
    """Composite-key MERGE (VERDICT r6 #4): rows match on ALL key
    columns — an update to (k=2, sub=1) must not touch (k=2, sub=2),
    which single-key matching cannot express; deletes remove exactly
    the named pairs; inserts land only for composite pairs absent
    from the snapshot; the duplicate guard fires on composite dupes
    (two rows that share k but differ in sub are NOT duplicates)."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_comp")
    base = spark.createDataFrame(
        [(k, s, float(10 * k + s)) for k in range(1, 6) for s in (1, 2)],
        "k long, sub long, v double")
    LH.table_init(base, path, "k", n_files=2)

    upd = spark.createDataFrame([(2, 1, 999.0)], "k long, sub long, v double")
    dels = spark.createDataFrame([(3, 2)], "k long, sub long")
    ins = spark.createDataFrame(
        [(2, 3, 23.0),     # new sub under an existing k
         (9, 1, 91.0)],    # entirely new k
        "k long, sub long, v double")
    LH.merge(spark, path, ["k", "sub"], updates=upd,
             delete_keys=dels, inserts=ins)
    got = {(r.k, r.sub): r.v for r in LH.read_version(
        spark, path, LH.current_version(path)).collect()}
    assert got[(2, 1)] == 999.0 and got[(2, 2)] == 22.0  # sibling untouched
    assert (3, 2) not in got and got[(3, 1)] == 31.0     # exact-pair delete
    assert got[(2, 3)] == 23.0 and got[(9, 1)] == 91.0   # inserts landed
    assert len(got) == 11

    # two update rows sharing k but differing in sub are fine…
    ok = spark.createDataFrame(
        [(4, 1, 1.0), (4, 2, 2.0)], "k long, sub long, v double")
    LH.merge(spark, path, ["k", "sub"], updates=ok)
    # …but a true composite duplicate is loud
    dup = spark.createDataFrame(
        [(5, 1, 1.0), (5, 1, 2.0)], "k long, sub long, v double")
    with _pytest.raises(ValueError, match="duplicate keys"):
        LH.merge(spark, path, ["k", "sub"], updates=dup)
    # change relations must carry every key column
    with _pytest.raises(ValueError, match="lack merge key"):
        LH.merge(spark, path, ["k", "sub"],
                 delete_keys=spark.createDataFrame([(1,)], "k long"))


def test_lakehouse_sql_merge_composite_on(spark, tmp_path):
    """The SQL surface accepts AND-conjoined ON equalities and routes
    them to the composite-key library merge; an ON clause that omits
    the clustering key is loud."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_sql as LSQL

    path = str(tmp_path / "lh_sqlcomp")
    base = spark.createDataFrame(
        [(k, s, float(10 * k + s)) for k in range(1, 5) for s in (1, 2)],
        "k long, sub long, v double")
    LH.table_init(base, path, "k", n_files=2)
    LSQL.register_table(spark, "t_comp", path, "k")
    spark.createDataFrame(
        [(2, 1, 999.0), (3, 2, -1.0), (8, 1, 81.0)],
        "k long, sub long, v double").createOrReplaceTempView("t_comp_chg")
    LSQL.sql(spark, """
        MERGE INTO t_comp t USING t_comp_chg s
        ON t.k = s.k AND t.sub = s.sub
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {(r.k, r.sub): r.v
           for r in LSQL.sql(spark, "SELECT * FROM t_comp").collect()}
    assert got[(2, 1)] == 999.0 and got[(2, 2)] == 22.0
    assert (3, 2) not in got and got[(8, 1)] == 81.0
    assert len(got) == 8

    with _pytest.raises(ValueError, match="clustering key"):
        LSQL.sql(spark, """
            MERGE INTO t_comp t USING t_comp_chg s ON t.sub = s.sub
            WHEN MATCHED THEN UPDATE SET *
        """)


def test_lakehouse_sql_create_partitioned(spark, tmp_path):
    """CTAS with PARTITIONED BY: the created table carries the Hive
    layout (partition-pruned reads work through SQL), SHOW PARTITIONS
    sees the values, a PARTITIONED BY column missing from the CTAS
    result is loud, and CREATE OR REPLACE cannot silently change the
    layout."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh_ctasp")
    spark.range(300).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS part", "CAST(id AS DOUBLE) AS v"
    ).createOrReplaceTempView("ctasp_src")
    sql(spark, f"CREATE TABLE ctasp USING lakehouse "
               f"TBLPROPERTIES ('key' 'k') PARTITIONED BY (part) "
               f"LOCATION '{path}' AS SELECT * FROM ctasp_src")
    assert LH.table_partition_by(path) == ["part"]
    assert all("part=" in f for f in LH.files_at_version(path, 0))
    got = [r.part for r in sql(spark, "SHOW PARTITIONS ctasp").collect()]
    assert sorted(got) == ["0", "1", "2"]
    pruned = LH.read_version(spark, path, 0, partition_filter={"part": "1"})
    assert pruned.count() == 100

    with _pytest.raises(ValueError, match="not in the CTAS"):
        sql(spark, f"CREATE TABLE ctasp2 USING lakehouse "
                   f"PARTITIONED BY (nope) LOCATION '{tmp_path}/x' "
                   f"AS SELECT * FROM ctasp_src")
    with _pytest.raises(ValueError, match="partition layout"):
        sql(spark, f"CREATE OR REPLACE TABLE ctasp USING lakehouse "
                   f"TBLPROPERTIES ('key' 'k') PARTITIONED BY (k) "
                   f"LOCATION '{path}' AS SELECT * FROM ctasp_src")


def test_lakehouse_reorg_purge_and_restore_timestamp(spark, tmp_path):
    """REORG TABLE ... APPLY (PURGE): rewrites ONLY the DV-carrying
    files (untouched files carry over by reference), materializes the
    soft deletes, drops the spent DVs — rows identical to the MOR
    read before the purge; a second REORG is a no-op. RESTORE ...
    TIMESTAMP AS OF resolves the epoch to the version committed at or
    before it."""
    import time as _time

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import register_table, sql

    path = str(tmp_path / "lh_reorg")
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=4, stats_cols=["k"])
    register_table(spark, "t_reorg", path, "k")
    # DVs land only in the low-key files
    LH.delete_where(spark, path, "k < 60 AND k % 3 = 0")
    v_dv = LH.current_version(path)
    files_dv = LH.files_at_version(path, v_dv)
    dv_map = LH.dvs_at_version(path, v_dv)
    carrying = sorted(f for f in files_dv if dv_map.get(f))
    untouched = sorted(f for f in files_dv if not dv_map.get(f))
    assert carrying and untouched
    want = sorted(r.k for r in LH.read_version(spark, path, v_dv).collect())
    ts_before_reorg = _time.time()

    _time.sleep(0.02)
    r = sql(spark, "REORG TABLE t_reorg APPLY (PURGE)").first()
    v2 = r["version"]
    files2 = LH.files_at_version(path, v2)
    assert LH.dvs_at_version(path, v2) == {}          # DVs spent
    assert all(f in files2 for f in untouched)        # carried by ref
    assert not any(f in files2 for f in carrying)     # rewritten
    assert sorted(x.k for x in LH.read_version(spark, path, v2)
                  .collect()) == want
    # idempotent: nothing left to purge
    assert sql(spark, "REORG TABLE t_reorg APPLY (PURGE)"
               ).first()["version"] == v2

    # RESTORE ... TIMESTAMP AS OF (epoch before the reorg → v_dv state)
    sql(spark, f"RESTORE TABLE t_reorg TO TIMESTAMP AS OF "
               f"'{ts_before_reorg}'")
    v3 = LH.current_version(path)
    assert LH.files_at_version(path, v3) == files_dv
    assert sorted(x.k for x in LH.read_version(spark, path, v3)
                  .collect()) == want


def test_lakehouse_sql_round7_verbs(spark, tmp_path):
    """Round-7 statement verbs: OPTIMIZE ... WHERE (partition-scoped
    compaction — cold partitions carry over by reference), INSERT INTO
    ... REPLACE WHERE (atomic region swap), INSERT OVERWRITE (whole
    table as one version, history intact), SHOW PARTITIONS (manifest-
    planned when fresh)."""
    import pytest as _pytest

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M
    from bigdata06_spark.lakehouse_sql import sql, register_table

    path = str(tmp_path / "lh7")
    df = spark.range(400).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=2, partition_by=["part"])
    register_table(spark, "lh7", path, "k")

    # fragment partition 2, then scope the compaction to it
    for i in range(6):
        LH.append(spark, path, "k", spark.range(1000 + i, 1001 + i)
                  .selectExpr("id AS k", "CAST(2 AS INT) AS part",
                              "CAST(id AS DOUBLE) AS v"))
    before = LH.files_at_version(path, LH.current_version(path))
    p2_before = [f for f in before if "part=2/" in f]
    other_before = sorted(f for f in before if "part=2/" not in f)
    assert len(p2_before) > 4
    sql(spark, "OPTIMIZE lh7 WHERE part = 2")
    after = LH.files_at_version(path, LH.current_version(path))
    assert sorted(f for f in after if "part=2/" not in f) == other_before
    assert len([f for f in after if "part=2/" in f]) < len(p2_before)
    assert sql(spark, "SELECT count(*) AS c FROM lh7").first().c == 406

    # partition-scoped ZORDER: partition 1 rewrites in Morton layout,
    # everything else carries over by reference; rows intact
    pre = LH.files_at_version(path, LH.current_version(path))
    other_pre = sorted(f for f in pre if "part=1/" not in f)
    sql(spark, "OPTIMIZE lh7 WHERE part = 1 ZORDER BY (k, v)")
    post = LH.files_at_version(path, LH.current_version(path))
    assert sorted(f for f in post if "part=1/" not in f) == other_pre
    assert all("part=1/" in f or f in other_pre for f in post)
    assert sql(spark, "SELECT count(*) AS c FROM lh7 WHERE part = 1"
               ).first().c == 100
    # unscoped zorder on a partitioned table stays loud
    with _pytest.raises(ValueError, match="partition-scoped"):
        sql(spark, "OPTIMIZE lh7 ZORDER BY (k, v)")

    # SHOW PARTITIONS — log path, then manifest path
    got = [r.part for r in sql(spark, "SHOW PARTITIONS lh7").collect()]
    assert sorted(got) == ["0", "1", "2", "3"]
    M.refresh_manifest(spark, path)
    got = [r.part for r in sql(spark, "SHOW PARTITIONS lh7").collect()]
    assert sorted(got) == ["0", "1", "2", "3"]

    # INSERT INTO ... REPLACE WHERE: swap partition 3's rows
    sql(spark, "INSERT INTO lh7 REPLACE WHERE part = 3 "
               "SELECT id AS k, CAST(3 AS INT) AS part, "
               "CAST(-1.0 AS DOUBLE) AS v FROM range(7, 10)")
    got = {r.k: r.v for r in sql(
        spark, "SELECT * FROM lh7 WHERE part = 3").collect()}
    assert got == {7: -1.0, 8: -1.0, 9: -1.0}
    assert sql(spark, "SELECT count(*) AS c FROM lh7").first().c == 309

    # INSERT OVERWRITE: whole table becomes the new version;
    # time travel still reads the old one
    v_before = LH.current_version(path)
    sql(spark, "INSERT OVERWRITE lh7 SELECT id AS k, "
               "CAST(id % 2 AS INT) AS part, CAST(0.0 AS DOUBLE) AS v "
               "FROM range(5)")
    assert sql(spark, "SELECT count(*) AS c FROM lh7").first().c == 5
    assert LH.read_version(spark, path, v_before).count() == 309

    with _pytest.raises(ValueError, match="not both"):
        sql(spark, "INSERT OVERWRITE lh7 REPLACE WHERE part = 0 "
                   "SELECT 1, 2, 3.0")
    with _pytest.raises(ValueError, match="partition equality"):
        sql(spark, "OPTIMIZE lh7 WHERE part > 1")


def test_lakehouse_sql_generate_manifest(spark, tmp_path):
    """GENERATE MANIFEST FOR TABLE through the SQL surface: first call
    full-builds, a call after a DML fold is incremental, a no-change
    call is a noop — and the manifest always mirrors the live file
    set."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M
    from bigdata06_spark import lakehouse_sql as LSQL

    path = str(tmp_path / "t")
    df = spark.range(200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=3)
    LSQL.register_table(spark, "t_gen", path, "k")

    r = LSQL.sql(spark, "GENERATE MANIFEST FOR TABLE t_gen").first()
    assert (r["version"], r["mode"]) == (0, "full")
    LSQL.sql(spark, "DELETE FROM t_gen WHERE k >= 150")
    # read_version now auto-folds a stale manifest (round 7): the SQL
    # layer's post-DML view refresh may already have brought it to v1,
    # so GENERATE reports either the fold or the resulting noop
    r = LSQL.sql(spark, "GENERATE MANIFEST FOR TABLE t_gen").first()
    assert r["version"] == 1 and r["mode"] in ("incremental", "noop")
    r = LSQL.sql(spark, "GENERATE MANIFEST FOR TABLE t_gen").first()
    assert r["mode"] == "noop"
    assert sorted(
        x["file"] for x in M.manifest_df(spark, path).collect()
    ) == LH.files_at_version(path, 1)
    assert M.read_at_manifest(spark, path).count() == 150
    # a read-free library mutation still folds INCREMENTALLY on the
    # next GENERATE
    LH.append(spark, path, "k", spark.range(200, 220).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"))
    r = LSQL.sql(spark, "GENERATE MANIFEST FOR TABLE t_gen").first()
    assert (r["version"], r["mode"]) == (2, "incremental")


def test_lakehouse_sql_round6_verbs(spark, tmp_path):
    """Round-6 statement verbs in one journey: time-travel SELECT
    (VERSION/TIMESTAMP AS OF rewritten to read_version views, aliases
    and joins intact), COPY INTO idempotence via the log's
    copy-source ledger, TRUNCATE as a new version, SHOW
    TBLPROPERTIES, ANALYZE → manifest refresh, and SHALLOW CLONE
    isolation from the source's later writes."""
    import glob
    import shutil

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import sql

    path = str(tmp_path / "lh6")
    spark.range(20).selectExpr("id AS k", "CAST(id * 2.0 AS DOUBLE) AS v") \
        .createOrReplaceTempView("lh6_seed")
    sql(spark, f"CREATE TABLE lh6 USING lakehouse TBLPROPERTIES "
               f"('key' 'k') LOCATION '{path}' AS SELECT * FROM lh6_seed")
    sql(spark, "UPDATE lh6 SET v = v + 100 WHERE k % 2 = 0")

    # time travel: join current vs v0; alias + WHERE survive the rewrite
    row = sql(spark, """
        SELECT count(*) AS n FROM lh6 cur
        JOIN lh6 VERSION AS OF 0 old ON cur.k = old.k
        WHERE cur.v <> old.v""").first()
    assert row["n"] == 10
    # TIMESTAMP AS OF far future = latest; epoch-0 has no version → loud
    assert sql(spark, "SELECT count(*) AS n FROM lh6 TIMESTAMP AS OF "
                      "'9999999999'").first()["n"] == 20
    import pytest as _pytest
    with _pytest.raises(Exception):
        sql(spark, "SELECT * FROM lh6 TIMESTAMP AS OF '0'")

    # COPY INTO: 2 files load once; re-run loads 0; new file loads alone
    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    for i, (lo, hi) in enumerate([(100, 110), (110, 115)]):
        stage = str(tmp_path / f"stage{i}")
        spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id * 1.0 AS DOUBLE) AS v"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(glob.glob(os.path.join(stage, "*.parquet"))[0],
                    os.path.join(landing, f"f{i}.parquet"))
    r1 = sql(spark, f"COPY INTO lh6 FROM '{landing}' "
                    f"FILEFORMAT = PARQUET").first()
    assert (r1["num_files_loaded"], r1["num_rows_loaded"]) == (2, 15)
    r2 = sql(spark, f"COPY INTO lh6 FROM '{landing}'").first()
    assert (r2["num_files_loaded"], r2["num_rows_loaded"]) == (0, 0)
    stage = str(tmp_path / "stage2")
    spark.range(115, 118).selectExpr(
        "id AS k", "CAST(id * 1.0 AS DOUBLE) AS v"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    shutil.copy(glob.glob(os.path.join(stage, "*.parquet"))[0],
                os.path.join(landing, "f2.parquet"))
    r3 = sql(spark, f"COPY INTO lh6 FROM '{landing}'").first()
    assert (r3["num_files_loaded"], r3["num_rows_loaded"]) == (1, 3)
    assert sql(spark, "SELECT count(*) AS n FROM lh6").first()["n"] == 38

    # ledger survives checkpoint squash; COPY stays a no-op after it
    LH.checkpoint_log(path)
    assert len(LH.table_copy_sources(path)) == 3
    r4 = sql(spark, f"COPY INTO lh6 FROM '{landing}'").first()
    assert r4["num_files_loaded"] == 0

    # SHOW TBLPROPERTIES / ANALYZE
    props = {r["key"]: r["value"]
             for r in sql(spark, "SHOW TBLPROPERTIES lh6").collect()}
    assert props["location"] == path and props["key"] == "k"
    an = sql(spark, "ANALYZE TABLE lh6 COMPUTE STATISTICS").first()
    assert an["num_files"] > 0

    # SHALLOW CLONE at the pre-truncate version, then truncate source
    clone_path = str(tmp_path / "lh6_clone")
    sql(spark, f"CREATE TABLE lh6c SHALLOW CLONE lh6 "
               f"LOCATION '{clone_path}'")
    assert sql(spark, "SELECT count(*) AS n FROM lh6c").first()["n"] == 38
    sql(spark, "TRUNCATE TABLE lh6")
    assert sql(spark, "SELECT count(*) AS n FROM lh6").first()["n"] == 0
    assert sql(spark, "SELECT count(*) AS n FROM lh6c").first()["n"] == 38
    # non-lakehouse TRUNCATE falls through to spark.sql (loud there)
    with _pytest.raises(Exception, match="nonesuch"):
        sql(spark, "TRUNCATE TABLE nonesuch_t6")


def test_optimize_where_keyword_named_column(spark, tmp_path):
    """review r8: a partition column literally named `incremental`
    (unquoted) inside OPTIMIZE's WHERE predicate must stay predicate
    text — the clause scan only treats INCREMENTAL / ZORDER BY as
    keywords when the remainder parses as that clause — and the real
    trailing clauses still parse."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.lakehouse_sql import register_table, sql

    path = str(tmp_path / "lh_kwcol")
    df = spark.range(120).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS incremental",
        "CAST(id AS DOUBLE) AS v")
    LH.table_init(df, path, "k", n_files=2, partition_by=["incremental"])
    register_table(spark, "lh_kwcol", path, "k")
    for i in range(3):
        LH.append(spark, path, "k", spark.range(500 + i, 501 + i)
                  .selectExpr("id AS k", "CAST(1 AS INT) AS incremental",
                              "CAST(id AS DOUBLE) AS v"))
    before = LH.files_at_version(path, LH.current_version(path))
    cold = sorted(f for f in before if "incremental=1/" not in f)
    # the predicate names the column; the statement has no clause
    sql(spark, "OPTIMIZE lh_kwcol WHERE incremental = 1")
    after = LH.files_at_version(path, LH.current_version(path))
    assert sorted(f for f in after if "incremental=1/" not in f) == cold
    assert len([f for f in after if "incremental=1/" in f]) < len(
        [f for f in before if "incremental=1/" in f])
    assert sql(spark, "SELECT count(*) AS c FROM lh_kwcol").first().c == 123
    # a real trailing clause still parses alongside the keyword column
    sql(spark, "OPTIMIZE lh_kwcol WHERE incremental = 1 ZORDER BY (k, v)")
    assert sql(spark, "SELECT count(*) AS c FROM lh_kwcol").first().c == 123


def test_parquet_checkpoint_hydration_matches_legacy_json(spark, sf_dir, tmp_path):
    """Round 9 parquet checkpoints: squashing the SAME history with
    parquet=True (sidecar) and parquet=False (legacy giant JSON) must
    yield identical replay state — LH.snapshot field-for-field, and a
    hydrated _read_entry carrying the same add/stats/blooms/dvs the
    JSON form embeds inline."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.catalog import load_table

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )

    def build(p):
        LH.table_init(o, p, "o_orderkey", n_files=4,
                      partition_by=["o_orderpriority"],
                      stats_cols=["o_orderdate"],
                      bloom_cols=["o_orderkey"], bloom_bits=1024,
                      bloom_hashes=3)
        k = o.agg(F.min("o_orderkey")).first()[0]
        upd = spark.createDataFrame(
            [(k, 7.0)], ["o_orderkey", "o_totalprice"])
        LH.merge(spark, p, "o_orderkey", updates=upd)
        LH.delete_where(spark, p, f"o_orderkey = {k + 1}")
        return LH.current_version(p)

    import shutil

    p1 = str(tmp_path / "ck_pq")
    v1 = build(p1)
    p2 = str(tmp_path / "ck_js")
    shutil.copytree(p1, p2)  # identical history, identical file names
    v2 = v1
    LH.checkpoint_log(p1, parquet=True)
    LH.checkpoint_log(p2, parquet=False)
    st1, st2 = LH.snapshot(p1, v1), LH.snapshot(p2, v2)
    for key in [*vars(st1), "logical_cols"]:
        assert getattr(st1, key) == getattr(st2, key), \
            f"replay field {key} diverged"
    e1, e2 = LH._read_entry(p1, v1), LH._read_entry(p2, v2)
    assert sorted(e1["add"]) == sorted(e2["add"])
    assert e1.get("stats", {}) == e2.get("stats", {})
    assert e1.get("blooms", {}) == e2.get("blooms", {})
    assert e1.get("dvs", {}) == e2.get("dvs", {})
    # metadata-only load of the parquet form never hydrates the bulk
    lean = LH._read_entry(p1, v1, bulk=())
    assert "add" not in lean and "stats" not in lean
    # and both tables still read identically
    r1 = sorted(map(tuple, LH.read_version(spark, p1, v1).collect()))
    r2 = sorted(map(tuple, LH.read_version(spark, p2, v2).collect()))
    assert r1 == r2


def test_manifest_fast_rebuild_equals_dict_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """The relational full rebuild (parquet-checkpoint sidecar + JSON
    tail fold) must produce exactly the manifest the dict-replay
    writer produces — row for row — and must actually TAKE the fast
    path (the dict writer is monkeypatched to fail loud)."""
    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark import lakehouse_manifest as M
    from bigdata06_spark.catalog import load_table

    path = str(tmp_path / "lh_fastmf")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    LH.table_init(o, path, "o_orderkey", n_files=4,
                  partition_by=["o_orderpriority"],
                  stats_cols=["o_orderdate"],
                  bloom_cols=["o_orderkey"], bloom_bits=1024, bloom_hashes=3)
    k = o.agg(F.min("o_orderkey")).first()[0]
    LH.merge(spark, path, "o_orderkey", updates=spark.createDataFrame(
        [(k, 7.0)], ["o_orderkey", "o_totalprice"]))
    ck_v = LH.checkpoint_log(path)
    # tail commits AFTER the checkpoint: an append and a MOR delete
    LH.merge(spark, path, "o_orderkey", inserts=spark.createDataFrame(
        [(10_000_000, 1.0, None, "1-URGENT")],
        "o_orderkey long, o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"))
    LH.delete_where(spark, path, f"o_orderkey = {k + 2}")
    v = LH.current_version(path)
    assert v > ck_v

    # dict-path reference manifest rows, straight from the replay
    st = LH.snapshot(path, v)
    bcols = list(st.bloom["cols"]) if st.bloom else []
    ref = sorted(M._rows_for(sorted(st.files), st.stats, st.dvs,
                             st.pby, st.scols, bcols, st.blooms))

    def boom(*a, **kw):
        raise AssertionError("dict-path writer called — fast path not taken")

    monkeypatch.setattr(M, "_write_manifest_distributed", boom)
    got = M.refresh_manifest(spark, path)
    assert got["mode"] == "full"
    rows = sorted(
        tuple(r) for r in M.manifest_df(spark, path)
        .select(*[f.name for f in M._manifest_schema(st.pby, st.scols, bcols).fields])
        .collect()
    )
    assert [r[0] for r in rows] == [r[0] for r in ref]
    for a, b in zip(rows, ref):
        assert list(a)[:-1] == list(b)[:-1], f"row diverged: {a} vs {b}"
        assert list(a[-1] or []) == list(b[-1] or []), f"dv diverged: {a} vs {b}"
    # planning still reads the fast-path manifest (full snapshot)
    _pv, planned, _dvs = M.plan_files(spark, path, stats_filter=None)
    assert len(planned) == len(st.files)


_OCC_WORKER = r'''
import sys
path, w, n_ops = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .appName(f"occ-worker-{w}")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from bigdata06_spark import lakehouse as LH
for i in range(n_ops):
    rel = spark.createDataFrame([(1000 + 100 * w + i, float(w))],
                                "k long, v double")
    LH.merge_with_retry(spark, path, "k", inserts=rel,
                        txn=(f"w{w}", i), max_retries=80)
print("OK", w)
'''


def test_lakehouse_occ_cross_process_writers_no_lost_updates(spark, tmp_path):
    """VERDICT r8 #5: the thread-based contention test races writers
    inside ONE SparkSession/process — this one proves the atomic
    create-if-absent commit guard across SEPARATE DRIVER PROCESSES
    (each worker a fresh JVM + SparkSession against the same table
    path, the real multi-writer deployment shape). Same invariants:
    no lost updates, gap-free linearization (one commit per version),
    idempotent-txn ledger complete."""
    import subprocess
    import sys as _sys

    from bigdata06_spark import lakehouse as LH

    path = str(tmp_path / "lh_occ_xproc")
    LH.table_init(spark.createDataFrame(
        [(k, 0.0) for k in range(20)], "k long, v double"),
        path, "k", n_files=2)

    n_writers, n_ops = 2, 3
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _OCC_WORKER, path, str(w), str(n_ops)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in range(n_writers)
    ]
    outs = [p.communicate(timeout=420) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"worker failed: {out[-500:]} / {err[-2000:]}"
        assert "OK" in out

    v = LH.current_version(path)
    assert v == n_writers * n_ops, "a lost or duplicated commit"
    got = {r.k for r in LH.read_version(spark, path, v).collect()}
    want = set(range(20)) | {1000 + 100 * w + i
                             for w in range(n_writers) for i in range(n_ops)}
    assert got == want, "a cross-process writer's commit was lost"
    counts = [LH.read_version(spark, path, x).count() for x in range(v + 1)]
    assert counts == [20 + x for x in range(v + 1)]
    txns = LH.table_txns(path, v)
    assert {txns[f"w{w}"] for w in range(n_writers)} == {n_ops - 1}
