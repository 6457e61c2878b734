"""Image perceptual-hash near-dup (operators/image_hash.py, q150).

The load-bearing checks:
- a pure-Python dHash re-implementation pins the Spark signature math;
- banded pair search ≡ brute force (the pigeonhole guarantee), verified
  against an independent Python Hamming computation;
- rescale / global-brightness invariance;
- the ASSET_SCHEMA projection and the degenerate-input filters.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.image_hash import (
    ahash_signatures,
    asset_gray_frames,
    dhash_signatures,
    hamming_hex,
    image_grid_cells,
    phash_near_dup_pairs,
)


def _mat(seed, gw=9, gh=8, lo=10, span=200):
    return [
        [hashlib.md5(f"{seed}:{cx}:{cy}".encode()).digest()[0] % span + lo
         for cx in range(gw)]
        for cy in range(gh)
    ]


def _render(m, w, h, gw=9, gh=8, bright=0, flip=()):
    buf = bytearray()
    for y in range(h):
        cy = y * gh // h
        for x in range(w):
            v = min(255, m[cy][x * gw // w] + bright)
            if (x, y) in flip:
                v = 255 - v
            buf.append(v)
    return bytes(buf)


def _py_dhash(data, w, h):
    """Independent reference: box-average 9x8 grid, bit = left > right."""
    sums = [[0] * 9 for _ in range(8)]
    cnts = [[0] * 9 for _ in range(8)]
    for y in range(h):
        cy = y * 8 // h
        for x in range(w):
            cx = x * 9 // w
            sums[cy][cx] += data[y * w + x]
            cnts[cy][cx] += 1
    out = []
    for cy in range(8):
        val = 0
        for gx in range(8):
            a = sums[cy][gx] / cnts[cy][gx]
            b = sums[cy][gx + 1] / cnts[cy][gx + 1]
            val = val * 2 + (1 if a > b else 0)
        out.append(f"{val:02x}")
    return "".join(out)


def _frames_df(spark, rows):
    return spark.createDataFrame(
        rows, "asset_id string, data binary, width int, height int"
    )


def test_dhash_matches_python_reference(spark):
    m = _mat("ref")
    rows = [
        ("i72", _render(m, 72, 40), 72, 40),
        ("i70", _render(m, 70, 37), 70, 37),   # cells NOT evenly divisible
        ("i13", _render(m, 13, 9), 13, 9),     # barely above the grid
    ]
    got = {r.id: r.dhash
           for r in dhash_signatures(_frames_df(spark, rows)).collect()}
    for aid, data, w, h in rows:
        assert got[aid] == _py_dhash(data, w, h), aid


def test_rescale_and_brightness_invariance(spark):
    m = _mat("inv")
    rows = [
        ("base", _render(m, 72, 40), 72, 40),
        ("up2", _render(m, 144, 80), 144, 80),
        ("up3", _render(m, 216, 120), 216, 120),
        ("brighter", _render(m, 72, 40, bright=30), 72, 40),
    ]
    d = {r.id: r.dhash
         for r in dhash_signatures(_frames_df(spark, rows)).collect()}
    assert d["base"] == d["up2"] == d["up3"] == d["brighter"]
    a = {r.id: r.ahash
         for r in ahash_signatures(_frames_df(spark, rows)).collect()}
    # ahash compares to the image's own mean: also brightness-invariant
    # (no clipping: matrix tops out at 209 + 30)
    assert a["base"] == a["up2"] == a["brighter"]


def test_distinct_images_are_far(spark):
    rows = [
        (s, _render(_mat(s), 72, 40), 72, 40)
        for s in ("pg1", "pg2", "pg3")
    ]
    sigs = dhash_signatures(_frames_df(spark, rows))
    assert phash_near_dup_pairs(sigs, r=8).count() == 0


@pytest.mark.parametrize("r", [0, 4, 10])
def test_banded_equals_brute_force(spark, r):
    """The pigeonhole band join must return EXACTLY the pairs the
    brute-force cross product would — verified against an independent
    Python Hamming computation over the collected signatures."""
    rows = []
    for i in range(8):
        m = _mat(f"corpus{i}")
        base = _render(m, 45, 24)
        rows.append((f"b{i}", base, 45, 24))
        # near copies at increasing perturbation: some inside r, some out
        flips1 = {(x, y) for x in range(5) for y in range(3)}
        flips2 = {(x, y) for x in range(20) for y in range(12)}
        rows.append((f"b{i}n1", _render(m, 45, 24, flip=flips1), 45, 24))
        rows.append((f"b{i}n2", _render(m, 45, 24, flip=flips2), 45, 24))
    sigs = dhash_signatures(_frames_df(spark, rows))
    collected = {s.id: int(s.dhash, 16) for s in sigs.collect()}
    assert len(collected) == len(rows)
    want = sorted(
        (a, b, bin(collected[a] ^ collected[b]).count("1"))
        for a in collected for b in collected
        if a < b and bin(collected[a] ^ collected[b]).count("1") <= r
    )
    got = sorted(
        (p.id_a, p.id_b, p.hamming)
        for p in phash_near_dup_pairs(sigs, r=r).collect()
    )
    assert got == want


def test_hamming_hex_column(spark):
    cases = [
        ("0000000000000000", "0000000000000000"),
        ("ffffffffffffffff", "0000000000000000"),
        ("8000000000000001", "0000000000000000"),
        ("32ac6a22b2b55bda", "32ac6a22aab55bda"),
        ("deadbeefcafef00d", "0123456789abcdef"),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    got = [r.h for r in
           df.select(hamming_hex(F.col("a"), F.col("b")).alias("h"))
           .collect()]
    want = [bin(int(a, 16) ^ int(b, 16)).count("1") for a, b in cases]
    assert got == want


def test_degenerate_inputs_filtered(spark):
    m = _mat("deg")
    rows = [
        ("ok", _render(m, 18, 10), 18, 10),
        ("too_small", bytes(range(32)), 8, 4),        # below the 9x8 grid
        ("bad_len", b"\x00" * 50, 18, 10),            # length != w*h
    ]
    sigs = dhash_signatures(_frames_df(spark, rows))
    assert [r.id for r in sigs.collect()] == ["ok"]


def test_rgb_luma_channels(spark):
    """channels=3 averages the bands: a gray image expanded to RGB with
    per-channel jitter that cancels in the mean hashes identically."""
    m = _mat("rgb")
    gray = _render(m, 36, 16)
    rgb = bytearray()
    for v in gray:
        rgb += bytes((min(255, v + 3), v, max(0, v - 3)))
    rows_g = [("g", gray, 36, 16)]
    rows_c = [("c", bytes(rgb), 36, 16)]
    dg = dhash_signatures(_frames_df(spark, rows_g)).head().dhash
    dc = dhash_signatures(
        _frames_df(spark, rows_c), channels=3
    ).head().dhash
    assert dg == dc


def test_asset_gray_frames_projection(spark):
    rows = [
        ("raw1", "image", b"\x00" * 24,
         {"format": "raw", "channels": "1", "width": "6", "height": "4"}),
        ("jpeg1", "image", b"\xff\xd8\xff",
         {"format": "jpeg", "media_type": "image/jpeg"}),
        ("rgb1", "image", b"\x00" * 72,
         {"format": "raw", "channels": "3", "width": "6", "height": "4"}),
        ("aud1", "audio", b"\x00" * 24, {"format": "raw"}),
    ]
    adf = spark.createDataFrame(
        rows,
        "asset_id string, kind string, data binary, "
        "metadata map<string,string>",
    )
    got = asset_gray_frames(adf).collect()
    assert [r.asset_id for r in got] == ["raw1"]
    assert (got[0].width, got[0].height) == (6, 4)


def test_grid_cells_exact_means(spark):
    """Cell means are exact: a constant image gives the constant, a
    half/half split gives each half's value (w=18 splits 2px per cell)."""
    data = bytes([10] * 9 + [200] * 9) * 8   # rows: 9 dark then 9 light
    rows = [("s", data, 18, 8)]
    cells = image_grid_cells(_frames_df(spark, rows), 9, 8).collect()
    for c in cells:
        want = 10.0 if c.cx < 4 else (200.0 if c.cx > 4 else 105.0)
        assert c.mean == want, (c.cx, c.cy, c.mean)


def test_hex_sig_to_bigint_sign_bit(spark):
    from ocr_vector_db_spark.operators.image_hash import hex_sig_to_bigint

    cases = ["0000000000000000", "ffffffffffffffff", "8000000000000000",
             "7fffffffffffffff", "32ac6a22b2b55bda", "deadbeefcafef00d"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.v for r in
           df.select(hex_sig_to_bigint(F.col("s")).alias("v")).collect()]
    # signed-64 view of the same bit pattern
    want = [int(c, 16) - (1 << 64 if int(c, 16) >= 1 << 63 else 0)
            for c in cases]
    assert got == want


def test_phash_index_incremental_screen(spark, tmp_path):
    """The persisted image screen: dHash signatures through SimHashIndex's
    banded machinery — build, screen (copies flag, fresh passes),
    dedup_new, add + re-add guard, and screen ≡ the one-shot pair search
    restricted to cross-side pairs."""
    from ocr_vector_db_spark.operators.image_hash import PhashIndex

    corpus = [(s, _render(_mat(s), 72, 40), 72, 40)
              for s in ("pga", "pgb", "pgc")]
    idx = PhashIndex.build(
        spark, _frames_df(spark, corpus), str(tmp_path / "phidx"), r=4
    )

    m = _mat("pga")
    batch = [
        ("pga_rescan", _render(m, 144, 80), 144, 80),      # hamming 0
        ("pga_tweak", _render(m, 72, 40,
                              flip={(x, y) for x in range(4)
                                    for y in range(3)}), 72, 40),
        ("fresh", _render(_mat("pgnew"), 72, 40), 72, 40),
    ]
    bdf = _frames_df(spark, batch)
    hits = idx.screen(bdf, id_col="asset_id")
    got = {(h.new_id, h.corpus_id): h.hamming for h in hits.collect()}
    assert got[("pga_rescan", "pga")] == 0
    assert ("pga_tweak", "pga") in got and got[("pga_tweak", "pga")] <= 4
    assert not any(n == "fresh" for n, _ in got)

    # one-shot ground truth restricted to cross-side pairs agrees
    both = _frames_df(spark, corpus + batch)
    sigs = dhash_signatures(both)
    corpus_ids = {c[0] for c in corpus}
    cross = {
        tuple(sorted((p.id_a, p.id_b))): p.hamming
        for p in phash_near_dup_pairs(sigs, r=4).collect()
        if (p.id_a in corpus_ids) != (p.id_b in corpus_ids)
    }
    assert cross == {tuple(sorted(k)): v for k, v in got.items()}

    survivors = idx.dedup_new(bdf, id_col="asset_id")
    assert [r.asset_id for r in survivors.collect()] == ["fresh"]
    assert idx.add(survivors, id_col="asset_id") == 1
    # re-add guard: the same batch folds zero new signatures
    assert idx.add(bdf, id_col="asset_id") == 2  # the two dups are new ids
    assert idx.add(bdf, id_col="asset_id") == 0  # replay is a no-op
    reloaded = PhashIndex.load(spark, str(tmp_path / "phidx"))
    assert reloaded.bits == 64 and reloaded.signatures().count() == 6


def test_pdf_to_image_dedup_end_to_end(spark):
    """The full multimodal dedup path q150 composes, end-to-end from PDF
    bytes: two scanned PDFs carrying the SAME page raster (one at 2x
    resolution) plus one distinct page, through the distributed asset
    extractor -> gray-frame projection -> dHash -> banded pairs. The
    re-scan clusters with the original; the distinct page doesn't."""
    from ocr_vector_db_spark.sources.ingest import (
        pdf_files_df,
        pdf_image_assets,
    )
    from ocr_vector_db_spark.sources.pdf_decode import build_simple_pdf

    m, m2 = _mat("scanned-page"), _mat("other-page")

    def pdf(mat, w, h):
        return build_simple_pdf([[
            {"kind": "text", "x": 50, "y": 700, "size": 12,
             "text": "scanned page with an embedded raster"},
            {"kind": "image", "x": 50, "y": 300, "w": 240, "h": 140,
             "width": w, "height": h, "pixels": _render(mat, w, h),
             "channels": 1},
        ]])

    files = pdf_files_df(spark, [
        ("/corpus/scan_a.pdf", pdf(m, 72, 40)),
        ("/corpus/scan_a_hires.pdf", pdf(m, 144, 80)),
        ("/corpus/other.pdf", pdf(m2, 72, 40)),
    ])
    assets = pdf_image_assets(files).withColumn(
        "asset_id", F.col("source_path")
    )
    frames = asset_gray_frames(assets)
    assert frames.count() == 3
    pairs = phash_near_dup_pairs(
        dhash_signatures(frames), r=4
    ).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} == {
        ("/corpus/scan_a.pdf", "/corpus/scan_a_hires.pdf", 0)
    }


def test_stream_ingest_asset_dedup(spark, tmp_path):
    """Streaming image ingestion with incremental perceptual dedup: batch 1
    seeds the persisted PhashIndex; batch 2's re-scan of an indexed page
    drops against the store, an intra-batch duplicate pair collapses
    keep-min, and the novel page is accepted and folded in."""
    import shutil

    from ocr_vector_db_spark.operators.image_hash import PhashIndex
    from ocr_vector_db_spark.streaming.assets import (
        stream_ingest_asset_dedup,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    schema = "asset_id string, data binary, width int, height int"

    def feed(src, name, rows):
        stage = tmp_path / f"stage_{name}"
        _frames_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        part = next(stage.glob("part-*.parquet"))
        src.mkdir(exist_ok=True)
        shutil.copy(part, src / f"{name}.parquet")

    m_base, m_other, m_new = _mat("s-base"), _mat("s-other"), _mat("s-new")
    empty = spark.createDataFrame([], schema)
    idx = PhashIndex.build(
        spark, empty, str(tmp_path / "phidx_stream"), r=4, n_buckets=8
    )

    src = tmp_path / "frames"
    feed(src, "b1", [
        ("pg_base", _render(m_base, 72, 40), 72, 40),
        ("pg_other", _render(m_other, 72, 40), 72, 40),
    ])
    sink = ParquetAcceptedSink(str(tmp_path / "accepted_assets"))
    ckpt = str(tmp_path / "actkpt")
    stats: list = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    assert sorted(r.asset_id for r in sink.read(spark).collect()) == \
        ["pg_base", "pg_other"]
    assert stats[-1] == {"epoch": 0, "accepted": 2, "dropped_as_dup": 0,
                         "unhashable": 0, "dropped_exact_dup": 0}

    # batch 2: a 2x re-scan of an indexed page (store screen), two copies
    # of a new page in the SAME batch (intra-batch keep-min), one novel
    feed(src, "b2", [
        ("rescan_base", _render(m_base, 144, 80), 144, 80),
        ("pg_new_a", _render(m_new, 72, 40), 72, 40),
        ("pg_new_b", _render(m_new, 96, 56), 96, 56),
        ("pg_novel", _render(_mat("s-novel"), 72, 40), 72, 40),
    ])
    stats2: list = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats2, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    accepted = {(r.asset_id, r.epoch_id) for r in sink.read(spark).collect()}
    assert accepted == {("pg_base", 0), ("pg_other", 0),
                        ("pg_new_a", 1), ("pg_novel", 1)}
    assert stats2[-1] == {"epoch": 1, "accepted": 2, "dropped_as_dup": 2,
                          "unhashable": 0, "dropped_exact_dup": 0}
    sigs = {r.doc for r in idx.signatures().collect()}
    assert sigs == {"pg_base", "pg_other", "pg_new_a", "pg_novel"}

    # keep-min drops the higher id of the intra-batch pair
    dropped = idx.batch_dropped_ids(idx.signatures_of(_frames_df(spark, [
        ("a1", _render(m_new, 72, 40), 72, 40),
        ("a2", _render(m_new, 144, 80), 144, 80),
    ]), id_col="asset_id", text_col="data"), id_col="asset_id")
    assert [r.asset_id for r in dropped.collect()] == ["a2"]

    # scale guard: accepted assets are written distributed, never collected
    import inspect

    from ocr_vector_db_spark.streaming import assets as _a
    assert ".collect()" not in inspect.getsource(_a)


def test_stream_ingest_unhashable_frames_exact_dedup(spark, tmp_path):
    """Frames below the dHash grid (tiny icons, corrupt buffers) do NOT
    bypass the streaming gate (ADVICE r11): they dedup by exact byte
    hash — intra-batch keep-min, then the persisted ExactFrameStore
    screen — are counted in stats, and never touch the PhashIndex."""
    import shutil

    from ocr_vector_db_spark.operators.image_hash import PhashIndex
    from ocr_vector_db_spark.streaming.assets import (
        ExactFrameStore,
        stream_ingest_asset_dedup,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    schema = "asset_id string, data binary, width int, height int"

    def feed(src, name, rows):
        stage = tmp_path / f"ustage_{name}"
        _frames_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        part = next(stage.glob("part-*.parquet"))
        src.mkdir(exist_ok=True)
        shutil.copy(part, src / f"{name}.parquet")

    icon = bytes(range(16))            # 4×4 — below the 9×8 grid
    icon2 = bytes(reversed(range(16)))
    corrupt = b"\x00\x01\x02"          # 72×40 dims but a 3-byte buffer
    m = _mat("u-page")
    empty = spark.createDataFrame([], schema)
    idx = PhashIndex.build(
        spark, empty, str(tmp_path / "phidx_unh"), r=4, n_buckets=8
    )
    store = ExactFrameStore(spark, str(tmp_path / "exact_frames"))
    sink = ParquetAcceptedSink(str(tmp_path / "accepted_unh"))
    ckpt = str(tmp_path / "unhckpt")
    src = tmp_path / "uframes"

    # batch 1: a normal page, two byte-identical icons (keep-min), one
    # corrupt buffer
    feed(src, "b1", [
        ("page", _render(m, 72, 40), 72, 40),
        ("icon_a", icon, 4, 4),
        ("icon_a_copy", icon, 4, 4),
        ("bad_buf", corrupt, 72, 40),
    ])
    stats: list = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats, checkpoint=ckpt, exact_store=store,
    )
    q.awaitTermination(60)
    assert stats[-1] == {"epoch": 0, "accepted": 3, "dropped_as_dup": 0,
                         "unhashable": 3, "dropped_exact_dup": 1}
    assert sorted(r.asset_id for r in sink.read(spark).collect()) == \
        ["bad_buf", "icon_a", "page"]
    # the perceptual index only ever sees hashable frames
    assert {r.doc for r in idx.signatures().collect()} == {"page"}

    # batch 2: a byte-identical re-send of an accepted icon drops against
    # the persisted store; a new icon is accepted
    feed(src, "b2", [
        ("icon_a_again", icon, 4, 4),
        ("icon_b", icon2, 4, 4),
    ])
    stats2: list = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats2, checkpoint=ckpt, exact_store=store,
    )
    q.awaitTermination(60)
    assert stats2[-1] == {"epoch": 1, "accepted": 1, "dropped_as_dup": 0,
                          "unhashable": 2, "dropped_exact_dup": 1}
    accepted = sorted(r.asset_id for r in sink.read(spark).collect())
    assert accepted == ["bad_buf", "icon_a", "icon_b", "page"]


def test_mixed_channel_dedup_gray_vs_rgb(spark, tmp_path):
    """A COLOR re-scan of a gray page (same picture, channels=3) clusters
    with the gray original through asset_raw_frames +
    dhash_signatures_mixed, and the PhashIndex gate screens across the
    channel kinds."""
    from ocr_vector_db_spark.operators.image_hash import (
        PhashIndex,
        asset_raw_frames,
        dhash_signatures_mixed,
    )

    m, m2 = _mat("mixed"), _mat("mixed-other")
    gray = _render(m, 72, 40)
    rgb = bytearray()
    for v in gray:
        rgb += bytes((min(255, v + 2), v, max(0, v - 2)))  # luma == gray
    assets = [
        ("pg_gray", "image", gray,
         {"format": "raw", "channels": "1", "width": "72", "height": "40"}),
        ("pg_rgb", "image", bytes(rgb),
         {"format": "raw", "channels": "3", "width": "72", "height": "40"}),
        ("pg_other", "image", _render(m2, 72, 40),
         {"format": "raw", "channels": "1", "width": "72", "height": "40"}),
        ("pg_jpeg", "image", b"\xff\xd8\xff",
         {"format": "jpeg", "media_type": "image/jpeg"}),
    ]
    adf = spark.createDataFrame(
        assets,
        "asset_id string, kind string, data binary, "
        "metadata map<string,string>",
    )
    frames = asset_raw_frames(adf)
    assert sorted(r.asset_id for r in frames.collect()) == \
        ["pg_gray", "pg_other", "pg_rgb"]
    sigs = dhash_signatures_mixed(frames)
    pairs = {(p.id_a, p.id_b): p.hamming
             for p in phash_near_dup_pairs(sigs, r=4).collect()}
    assert pairs == {("pg_gray", "pg_rgb"): 0}

    # the persisted gate screens across channel kinds too
    gray_only = frames.filter("asset_id = 'pg_gray'")
    idx = PhashIndex.build(spark, gray_only, str(tmp_path / "mixidx"), r=4)
    survivors = idx.dedup_new(
        frames.filter("asset_id != 'pg_gray'"), id_col="asset_id"
    )
    assert [r.asset_id for r in survivors.collect()] == ["pg_other"]


def test_dhash_plan_shape_map_side_combine(spark):
    """The 100 TB claim, pinned (SCALING.md): the pixel grain never
    shuffles — per-scanline cell sums reduce map-side (partial_sum before
    the (id, cy, cx) exchange), scanlines come from the transform+
    posexplode that hands each row ONE scanline's hex, and nothing is a
    cartesian product."""
    m = _mat("plan")
    df = _frames_df(spark, [("a", _render(m, 72, 40), 72, 40)])
    plan = dhash_signatures(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "posexplode(transform(sequence(" in plan
    # partial (map-side) sum of the cell accumulators precedes the one
    # pixel-grain exchange
    import re

    first_exchange = plan.index("Exchange hashpartitioning")
    assert re.search(r"partial_sum", plan[first_exchange:]), plan
    # the per-(id, cy, cx) aggregate exists and is keyed below image grain
    assert re.search(
        r"HashAggregate\(keys=\[id#\d+, cy#\d+, _groupingexpression",
        plan,
    ), plan


def test_image_keep_best(spark):
    """Quality-aware image dedup: within a near-dup family the
    highest-resolution copy survives (min id on ties); distinct pages are
    their own singleton families and survive."""
    from ocr_vector_db_spark.operators.image_hash import image_keep_best

    m, m2 = _mat("kb"), _mat("kb-other")
    rows = [
        ("scan_lo", _render(m, 72, 40), 72, 40),
        ("scan_hi", _render(m, 144, 80), 144, 80),   # best copy
        ("scan_mid", _render(m, 72, 40), 72, 40),    # ties scan_lo; loses
        ("other", _render(m2, 72, 40), 72, 40),      # singleton
    ]
    got = {r.asset_id: r for r in
           image_keep_best(_frames_df(spark, rows), r=4).collect()}
    assert len(got) == 4
    fam = {r.family for k, r in got.items() if k != "other"}
    assert len(fam) == 1                      # one transitive family
    assert got["other"].family == "other"     # singleton keeps itself
    assert got["scan_hi"].keep and got["other"].keep
    assert not got["scan_lo"].keep and not got["scan_mid"].keep
    assert got["scan_hi"].pixels == 144 * 80

    # tie on resolution: min id wins
    rows2 = [
        ("b_copy", _render(m, 72, 40), 72, 40),
        ("a_copy", _render(m, 72, 40), 72, 40),
    ]
    got2 = {r.asset_id: r.keep for r in
            image_keep_best(_frames_df(spark, rows2), r=4).collect()}
    assert got2 == {"a_copy": True, "b_copy": False}


def test_exact_frame_store_compaction(spark, tmp_path):
    """ExactFrameStore.compact folds committed epoch dirs into one
    (bounding the small-files leak) without changing screen semantics:
    after compaction every previously accepted key still screens, and
    the dir count stays bounded across runs with compact_every=1."""
    import shutil

    from ocr_vector_db_spark.operators.image_hash import PhashIndex
    from ocr_vector_db_spark.operators.index_maint import (
        EpochLedger,
        parquet_file_count,
    )
    from ocr_vector_db_spark.streaming.assets import (
        ExactFrameStore,
        stream_ingest_asset_dedup,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    schema = "asset_id string, data binary, width int, height int"

    def feed(src, name, rows):
        stage = tmp_path / f"cstage_{name}"
        _frames_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        part = next(stage.glob("part-*.parquet"))
        src.mkdir(exist_ok=True)
        shutil.copy(part, src / f"{name}.parquet")

    icons = [bytes((j + k) % 251 for k in range(16)) for j in range(5)]
    empty = spark.createDataFrame([], schema)
    idx = PhashIndex.build(
        spark, empty, str(tmp_path / "phidx_c"), r=4, n_buckets=8
    )
    store = ExactFrameStore(spark, str(tmp_path / "exact_c"))
    sink = ParquetAcceptedSink(str(tmp_path / "accepted_c"))
    ledger = EpochLedger(spark, str(tmp_path / "ledger_c"))
    ckpt = str(tmp_path / "cckpt")
    src = tmp_path / "cframes"

    for e in range(3):
        feed(src, f"b{e}", [(f"icon_{e}", icons[e], 4, 4)])
        q = stream_ingest_asset_dedup(
            spark.readStream.schema(schema).parquet(str(src)), idx, sink,
            checkpoint=ckpt, ledger=ledger, compact_every=1,
            exact_store=store,
        )
        q.awaitTermination(60)

    # everything folded into one file
    assert parquet_file_count(str(tmp_path / "exact_c"), spark) == 1

    # a byte-identical re-send of EVERY earlier icon still screens out,
    # a new icon is accepted — compaction preserved the key set
    feed(src, "b3", [
        ("re_icon_0", icons[0], 4, 4),
        ("re_icon_1", icons[1], 4, 4),
        ("re_icon_2", icons[2], 4, 4),
        ("icon_new", icons[3], 4, 4),
    ])
    stats: list = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats, checkpoint=ckpt, ledger=ledger, compact_every=1,
        exact_store=store,
    )
    q.awaitTermination(60)
    assert stats[-1]["accepted"] == 1
    assert stats[-1]["dropped_exact_dup"] == 3
    accepted = sorted(r.asset_id for r in sink.read(spark).collect())
    assert accepted == ["icon_0", "icon_1", "icon_2", "icon_new"]

    # without a ledger the cycle compacts too (each key keeps its epoch,
    # so a replay still never screens against its own keys)
    feed(src, "b4", [
        ("re_icon_new", icons[3], 4, 4),
        ("icon_newer", icons[4], 4, 4),
    ])
    stats = []
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats, checkpoint=ckpt, compact_every=1, exact_store=store,
    )
    q.awaitTermination(60)
    assert (stats[-1]["accepted"], stats[-1]["dropped_exact_dup"]) == (1, 1)
    assert parquet_file_count(str(tmp_path / "exact_c"), spark) == 1
    assert store.keys(before_epoch=9).count() == 5


def _xkeys(store, before_epoch):
    return sorted(r["__xkey"] for r in store.keys(before_epoch).collect())


def _keys_df(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "__xkey string")


def test_exact_frame_store_orphan_generation_never_read(spark, tmp_path):
    """A compaction that dies before its commit marker leaves an orphan
    generation dir: keys() keeps serving the committed generation (every
    committed key still screens, the orphan's rows never do) and the next
    compaction replaces it. A compaction keeps each key's epoch, so
    add(k, e) then compact() still hides k from keys(before_epoch=e)."""
    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.streaming.assets import ExactFrameStore

    root = tmp_path / "exact_o"
    store = ExactFrameStore(spark, str(root))
    assert _xkeys(store, 5) == []  # no data files: a typed empty frame
    store.add(_keys_df(spark, "k0", "k1"), 0)
    store.add(_keys_df(spark, "k2"), 1)
    assert committed_generations(spark, str(root)) == [1]

    spark.createDataFrame([("ghost", 0)], ExactFrameStore.SCHEMA) \
        .write.parquet(str(root / "gen-000002"))
    assert _xkeys(store, 5) == ["k0", "k1", "k2"]
    store.compact()
    assert committed_generations(spark, str(root)) == [1, 2]
    assert _xkeys(store, 5) == ["k0", "k1", "k2"]

    store.add(_keys_df(spark, "k3"), 2)
    store.compact()
    assert _xkeys(store, 2) == ["k0", "k1", "k2"]
    assert _xkeys(store, 1) == ["k0", "k1"]
    assert _xkeys(store, 3) == ["k0", "k1", "k2", "k3"]


def test_exact_frame_store_corrupt_generation_raises(spark, tmp_path):
    """A live generation holding a corrupt parquet file makes keys()
    raise instead of reading empty (an empty screen silently re-admits
    every byte-identical asset), and compact() raises before its commit:
    the committed generation stays the live one."""
    import pytest as _pytest

    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.streaming.assets import ExactFrameStore

    root = tmp_path / "exact_err"
    store = ExactFrameStore(spark, str(root))
    store.add(_keys_df(spark, "k0"), 0)
    (root / "gen-000001" / "part-99999-corrupt.parquet").write_bytes(
        b"PAR1 this is not a parquet footer"
    )
    with _pytest.raises(Exception):
        store.keys(before_epoch=5).collect()
    with _pytest.raises(Exception):
        store.compact()
    assert committed_generations(spark, str(root)) == [1]


def test_exact_frame_store_legacy_layout_migrates(spark, tmp_path):
    """A store written before generations (one `epoch=N` dir per epoch,
    key column only) reads with the epoch partition discovery gives it;
    its first add migrates every key into generation 1 with its epoch,
    and the next generation's GC removes the epoch dirs."""
    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.streaming.assets import ExactFrameStore

    root = tmp_path / "exact_l"
    _keys_df(spark, "k0", "k1").write.parquet(str(root / "epoch=0"))
    _keys_df(spark, "k2").write.parquet(str(root / "epoch=1"))
    store = ExactFrameStore(spark, str(root))
    assert _xkeys(store, 1) == ["k0", "k1"]
    assert _xkeys(store, 5) == ["k0", "k1", "k2"]

    store.add(_keys_df(spark, "k3"), 2)
    assert committed_generations(spark, str(root)) == [1]
    assert _xkeys(store, 2) == ["k0", "k1", "k2"]
    assert _xkeys(store, 3) == ["k0", "k1", "k2", "k3"]

    store.compact()
    assert not [d for d in root.iterdir() if d.name.startswith("epoch=")]
    assert _xkeys(store, 1) == ["k0", "k1"]
    assert _xkeys(store, 3) == ["k0", "k1", "k2", "k3"]


def test_exact_frame_store_legacy_stage_dir_raises(spark, tmp_path):
    """A `_compact_*` stage dir left by the pre-generation compaction can
    hold the only copy of folded keys, and partition discovery skips it
    (a later GC would delete it): keys(), add() and compact() raise
    naming it, and nothing is migrated."""
    import pytest as _pytest

    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.streaming.assets import ExactFrameStore

    root = tmp_path / "exact_st"
    _keys_df(spark, "k0").write.parquet(str(root / "epoch=0"))
    _keys_df(spark, "k1", "k2").write.parquet(str(root / "_compact_2"))
    store = ExactFrameStore(spark, str(root))
    for call in (lambda: store.keys(before_epoch=5),
                 lambda: store.add(_keys_df(spark, "k3"), 3),
                 store.compact):
        with _pytest.raises(IOError, match="_compact_2"):
            call()
    assert committed_generations(spark, str(root)) == []


def _py_resize(data, w, h, out_w, out_h):
    """Independent reference: exact box-average to out_w x out_h,
    round-half-up to a byte (matches Spark's ROUND, not banker's)."""
    sums = [[0] * out_w for _ in range(out_h)]
    cnts = [[0] * out_w for _ in range(out_h)]
    for y in range(h):
        cy = y * out_h // h
        for x in range(w):
            cx = x * out_w // w
            sums[cy][cx] += data[y * w + x]
            cnts[cy][cx] += 1
    return bytes(
        int(sums[cy][cx] / cnts[cy][cx] + 0.5)
        for cy in range(out_h) for cx in range(out_w)
    )


def test_resize_raster_matches_python_reference(spark):
    """resize_raster = exact box-average downsample, pinned against an
    independent Python reference across divisible and non-divisible
    dims; same-size resize is the identity."""
    from ocr_vector_db_spark.operators.image_hash import resize_raster

    m = _mat("rsz")
    rows = [
        ("a", _render(m, 72, 40), 72, 40),
        ("b", _render(m, 70, 37), 70, 37),    # cells NOT evenly divisible
        ("c", _render(_mat("rsz2"), 33, 21), 33, 21),
    ]
    df = _frames_df(spark, rows)
    for ow, oh in [(16, 12), (9, 8), (13, 7)]:
        got = {r.asset_id: (bytes(r.data), r.width, r.height)
               for r in resize_raster(df, ow, oh).collect()}
        for aid, data, w, h in rows:
            assert got[aid] == (_py_resize(data, w, h, ow, oh), ow, oh), \
                (aid, ow, oh)
    # identity: every cell is exactly one source pixel
    same = {r.asset_id: bytes(r.data)
            for r in resize_raster(
                _frames_df(spark, rows[:1]), 72, 40).collect()}
    assert same["a"] == rows[0][1]
    # sub-grid inputs are filtered, like the hashers
    tiny = _frames_df(spark, [("t", bytes(range(16)), 4, 4)])
    assert resize_raster(tiny, 9, 8).count() == 0


def test_resize_raster_rgb_luma_and_plan_shape(spark):
    """channels=3 resizes through integer luma (a jitter that cancels in
    the band mean resizes identically to the gray original), and the
    plan keeps the pixel grain map-side: partial sums BEFORE the one
    (id, cy, cx) exchange, no cartesian."""
    from ocr_vector_db_spark.operators.image_hash import resize_raster

    m = _mat("rszrgb")
    gray = _render(m, 36, 16)
    rgb = bytearray()
    for v in gray:
        rgb += bytes((min(255, v + 3), v, max(0, v - 3)))
    out_g = resize_raster(
        _frames_df(spark, [("g", gray, 36, 16)]), 9, 8).head()
    out_c = resize_raster(
        _frames_df(spark, [("c", bytes(rgb), 36, 16)]), 9, 8,
        channels=3).head()
    assert bytes(out_g.data) == bytes(out_c.data)

    plan = resize_raster(
        _frames_df(spark, [("g", gray, 36, 16)]), 9, 8
    )._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")
    assert "CartesianProduct" not in plan


def test_resize_raster_rgb_channel_preserving(spark):
    """resize_raster_rgb keeps the bands: each output byte equals the
    round-half-up mean of its OWN channel's source box (independent
    reference, non-divisible dims), identity at same size, and an exact
    2x duplication resizes bit-equal to the original's resize."""
    import hashlib

    from ocr_vector_db_spark.operators.image_hash import resize_raster_rgb

    def rgb(seed, w, h):
        return bytes(
            hashlib.md5(f"{seed}:{x // 3}:{y // 3}:{c}".encode())
            .digest()[0]
            for y in range(h) for x in range(w) for c in range(3)
        )

    def up2(data, w, h):
        out = bytearray()
        for y in range(2 * h):
            for x in range(2 * w):
                p = ((y // 2) * w + (x // 2)) * 3
                out += data[p:p + 3]
        return bytes(out)

    def ref(data, w, h, ow, oh):
        import math
        out = bytearray()
        for cy in range(oh):
            y0, y1 = math.ceil(cy * h / oh), math.ceil((cy + 1) * h / oh)
            for cx in range(ow):
                x0 = math.ceil(cx * w / ow)
                x1 = math.ceil((cx + 1) * w / ow)
                for c in range(3):
                    s = sum(data[(y * w + x) * 3 + c]
                            for y in range(y0, y1) for x in range(x0, x1))
                    out.append(int(s / ((y1 - y0) * (x1 - x0)) + 0.5))
        return bytes(out)

    # non-divisible dims pin the reference; the 2x bit-equality needs
    # cell-aligned dims (ceil boundaries only scale 2x when the source
    # dims divide the grid — same caveat as q152's 72x40 fixture)
    odd = rgb("rgbo", 22, 13)
    base = rgb("rgbr", 24, 12)
    rows = [
        ("odd", odd, 22, 13),
        ("base", base, 24, 12),
        ("double", up2(base, 24, 12), 48, 24),
        ("tiny", rgb("rgbt", 6, 4), 6, 4),
    ]
    df = spark.createDataFrame(
        rows, "asset_id string, data binary, width int, height int")
    got = {r.asset_id: bytes(r.data)
           for r in resize_raster_rgb(df, 6, 4).collect()}
    assert got["odd"] == ref(odd, 22, 13, 6, 4)
    assert got["base"] == ref(base, 24, 12, 6, 4)
    assert got["double"] == got["base"]          # aligned 2x grids
    assert got["tiny"] == rows[3][1]             # identity
    assert all(len(v) == 6 * 4 * 3 for v in got.values())


def test_simhash_pairs_from_sigs_equals_brute(spark):
    """The sig-grain intra-batch pair helper (the signatures-once seam's
    keep-min half) returns EXACTLY the brute-force XOR pairs, with and
    without an alignment key."""
    import random

    from ocr_vector_db_spark.operators.simhash_index import (
        simhash_pairs_from_sigs,
    )

    rnd = random.Random(5)
    base = rnd.getrandbits(60)
    rows = []
    for i in range(14):
        v = base
        for _ in range(rnd.randrange(0, 12)):
            v ^= 1 << rnd.randrange(62)
        rows.append((f"d{i:02d}", i % 3, v))
    sigs = spark.createDataFrame(rows, "doc string, f int, simhash long")
    by_doc = {d: v for d, _, v in rows}
    pos = {d: f for d, f, _ in rows}

    for r in (3, 8):
        got = sorted(
            (p.doc_a, p.doc_b, p.hamming)
            for p in simhash_pairs_from_sigs(
                sigs.select("doc", "simhash"), 64, r).collect()
        )
        want = sorted(
            (a, b, bin(by_doc[a] ^ by_doc[b]).count("1"))
            for a in by_doc for b in by_doc
            if a < b and bin(by_doc[a] ^ by_doc[b]).count("1") <= r
        )
        assert got == want, r

        got_al = sorted(
            (p.doc_a, p.doc_b, p.f, p.hamming)
            for p in simhash_pairs_from_sigs(sigs, 64, r,
                                             align_col="f").collect()
        )
        want_al = sorted(
            (a, b, pos[a], bin(by_doc[a] ^ by_doc[b]).count("1"))
            for a in by_doc for b in by_doc
            if a < b and pos[a] == pos[b]
            and bin(by_doc[a] ^ by_doc[b]).count("1") <= r
        )
        assert got_al == want_al, r


def test_gate_computes_signatures_once_per_batch(spark, tmp_path,
                                                 monkeypatch):
    """The signatures-once seam (VERDICT r12 #1): each micro-batch
    derives ONE signature DataFrame (index.signatures_of, then
    localCheckpoint) and keep-min, the corpus screen and the index fold
    all consume it — `_sig_expr` runs exactly once per non-empty batch
    instead of the former three raw-byte re-hashes."""
    import shutil

    from ocr_vector_db_spark.operators.image_hash import PhashIndex
    from ocr_vector_db_spark.streaming.assets import (
        stream_ingest_asset_dedup,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    schema = "asset_id string, data binary, width int, height int"
    empty = spark.createDataFrame([], schema)
    idx = PhashIndex.build(spark, empty, str(tmp_path / "ph1x"),
                           r=4, n_buckets=8)
    calls = []
    orig = idx._sig_expr

    def counting(docs, id_col, text_col):
        calls.append(1)
        return orig(docs, id_col, text_col)

    monkeypatch.setattr(idx, "_sig_expr", counting)

    m = _mat("once")
    rows = [
        ("a", _render(m, 36, 16), 36, 16),
        ("a_rescale", _render(m, 72, 32), 72, 32),   # intra-batch dup
        ("b", _render(_mat("once-b"), 36, 16), 36, 16),
    ]
    stage = tmp_path / "once_stage"
    _frames_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        str(stage))
    src = tmp_path / "once_src"
    src.mkdir()
    shutil.copy(next(stage.glob("part-*.parquet")), src / "b0.parquet")

    stats: list = []
    sink = ParquetAcceptedSink(str(tmp_path / "once_acc"))
    q = stream_ingest_asset_dedup(
        spark.readStream.schema(schema).parquet(str(src)), idx, sink,
        stats=stats, checkpoint=str(tmp_path / "once_ckpt"),
    )
    q.awaitTermination(60)
    assert len(calls) == 1
    assert stats[-1]["accepted"] == 2           # keep-min dropped a_rescale
    assert stats[-1]["dropped_as_dup"] == 1
    assert sorted(r.asset_id for r in sink.read(spark).collect()) == \
        ["a", "b"]
    assert sorted(r.doc for r in idx.signatures().collect()) == ["a", "b"]
