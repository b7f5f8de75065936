"""The image kernels, the figure-crop sink and per-page confidence on
both extraction paths."""


def test_figure_crops_decode_to_the_rendered_bitmap(spark):
    """Every figure crop decodes to exactly the pixels of its box in the
    rendered page, recomputed on the driver from ``typeset``: the PNG
    bytes the sink stores lose nothing between the executor's bitmap and
    the output row. The bitmap stand-in paints each picture box with a
    position-dependent gray gradient, so the comparison sees image
    content as well as geometry and the codec round trip."""
    import hashlib

    import numpy as np

    from high_performance_docling_spark.corpus import (
        GenConfig,
        generate_corpus,
        typeset,
    )
    from high_performance_docling_spark.kernels.image_ops import (
        RENDER_SCALE,
        crop_bitmap,
        render_page_bitmap,
    )
    from high_performance_docling_spark.kernels.png_codec import decode_png
    from high_performance_docling_spark.labels import PICTURE
    from high_performance_docling_spark.operators.figures import extract_figures
    from high_performance_docling_spark.pipeline import docs_dataframe

    cfg = GenConfig(seed=42, n_docs=20)
    want = {}
    for doc in generate_corpus(cfg):
        spans = sorted(doc["spans"], key=lambda s: s["offset"])
        for page in typeset(doc["doc_id"], spans, cfg):
            pics = [e for e in page.elements if e.label == PICTURE]
            boxes = [[c["l"], c["t"], c["r"], c["b"]] for c in page.cells]
            img = render_page_bitmap(
                page.width, page.height, boxes,
                pictures=[[e.l, e.t, e.r, e.b] for e in pics],
            )
            for e in pics:
                key = (doc["doc_id"], page.page_no, e.l, e.t, e.r, e.b)
                want[key] = crop_bitmap(img, [e.l, e.t, e.r, e.b], RENDER_SCALE)

    figs = extract_figures(docs_dataframe(spark, cfg, num_partitions=4), cfg).collect()
    got = {(f["doc_id"], f["page_no"], f["l"], f["t"], f["r"], f["b"]): f for f in figs}
    assert want and len(figs) == len(got) and got.keys() == want.keys()
    for key, f in got.items():
        data = bytes(f["crop"])
        px = decode_png(data)
        assert px.dtype == np.uint8 and np.array_equal(px, want[key]), key
        assert (f["crop_h"], f["crop_w"]) == want[key].shape
        assert f["crop_sha"] == hashlib.sha256(data).hexdigest()
    # picture crops carry content, so the comparison above sees pixels
    assert all(px.min() < px.max() for px in map(want.get, got)
               if px.size > 1)


def test_image_ops_kernels():
    """Image-path kernels: render/crop/roi-resize/normalize/preprocess
    shapes and determinism (tf_predictor.py:496-562 + :1117-1174,
    gpu_preprocess.py semantics on the deterministic bitmap stand-in)."""
    import numpy as np

    from high_performance_docling_spark.kernels.image_ops import (
        RENDER_SCALE,
        crop_bitmap,
        crop_table_rois,
        normalize_batch,
        preprocess_layout_batch,
        render_page_bitmap,
    )

    img = render_page_bitmap(612.0, 792.0, [[100, 100, 300, 200], [0, 0, 50, 50]])
    assert img.shape == (198, 153) and img.dtype == np.uint8
    assert img[30, 30] == 255 and img[150, 140] == 0
    img2 = render_page_bitmap(612.0, 792.0, [[100, 100, 300, 200], [0, 0, 50, 50]])
    assert np.array_equal(img, img2)  # deterministic

    crop = crop_bitmap(img, [100, 100, 300, 200], RENDER_SCALE)
    assert crop.shape == (25, 50) and crop.min() == 255  # fully covered box

    # a picture box is painted with its position's gray pattern
    pic = render_page_bitmap(612.0, 792.0, [[100, 100, 300, 200]],
                             pictures=[[100, 100, 300, 200]])
    pcrop = crop_bitmap(pic, [100, 100, 300, 200], RENDER_SCALE)
    ys, xs = np.mgrid[25:50, 25:75]
    assert np.array_equal(pcrop, ((3 * xs + 5 * ys) % 256).astype(np.uint8))
    assert pcrop.min() < pcrop.max()

    rois = crop_table_rois(img, 792.0, [[100, 100, 300, 200], [5, 5, 5, 5]])
    assert len(rois) == 1  # degenerate box skipped
    sf = 1024.0 / 792.0
    assert rois[0]["scale_factor"] == sf
    assert rois[0]["image"].shape == (int(round(100 * sf)), int(round(200 * sf)))
    assert rois[0]["scaled_bbox"] == [100 * sf, 100 * sf, 300 * sf, 200 * sf]

    norm = normalize_batch([crop, img], resized_size=448)
    assert norm.shape == (2, 3, 448, 448) and norm.dtype == np.float32
    # 255 pixel → (1.0 - mean)/std on channel 0
    assert abs(norm[0, 0, 0, 0] - (1.0 - 0.94247851) / 0.17910956) < 1e-5

    pre = preprocess_layout_batch([img, crop])
    assert pre.shape == (2, 3, 640, 640) and pre.dtype == np.float32
    assert pre.max() <= 1.0 and pre.min() >= 0.0  # rescaled, no normalize


def test_extract_figures_joins_with_span_media_refs(spark):
    """Figure sink (document_assembler.py:62-90 role): crop rows join 1:1
    with the picture spans' media_refs from the extraction pipeline."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.operators.figures import extract_figures
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=42, n_docs=20)
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    figs = extract_figures(docs, cfg).collect()
    assert len(figs) > 0
    from high_performance_docling_spark.kernels.png_codec import decode_png

    for f in figs:
        assert f["crop_h"] >= 1 and f["crop_w"] >= 1
        # crops are REAL PNG bytes that round-trip to the stated shape
        img = decode_png(bytes(f["crop"]))
        assert img.shape == (f["crop_h"], f["crop_w"])
        assert f["media_ref"].startswith("img:")
    spans = extract_spans(spark, docs, cfg).select("doc_id", "spans").collect()
    span_refs = {
        s["media_ref"]
        for r in spans
        for s in r["spans"]
        if s["kind"] == "picture" and s["media_ref"]
    }
    fig_refs = {f["media_ref"] for f in figs}
    assert span_refs and span_refs <= fig_refs
    # determinism: same crop bytes on a second run
    figs2 = {f["media_ref"]: f["crop_sha"] for f in extract_figures(docs, cfg).collect()}
    assert {f["media_ref"]: f["crop_sha"] for f in figs} == figs2


def test_bilinear_resize_parity_with_reference_formula():
    """verify_parity.py-style gate (max-abs <= 1e-3): resize_bilinear vs
    an INDEPENDENT scalar-loop implementation of torchvision's
    BILINEAR/antialias=False/align_corners=False semantics."""
    import numpy as np

    from high_performance_docling_spark.kernels.image_ops import (
        resize_area,
        resize_bilinear,
    )

    def ref_bilinear(img, oh, ow):
        ih, iw = img.shape[:2]
        out = np.zeros((oh, ow), dtype=np.float64)
        for i in range(oh):
            y = min(max((i + 0.5) * ih / oh - 0.5, 0.0), ih - 1)
            y0, fy = int(np.floor(y)), 0.0
            fy = y - int(np.floor(y))
            y1 = min(y0 + 1, ih - 1)
            for j in range(ow):
                x = min(max((j + 0.5) * iw / ow - 0.5, 0.0), iw - 1)
                x0 = int(np.floor(x))
                fx = x - x0
                x1 = min(x0 + 1, iw - 1)
                top = img[y0, x0] * (1 - fx) + img[y0, x1] * fx
                bot = img[y1, x0] * (1 - fx) + img[y1, x1] * fx
                out[i, j] = top * (1 - fy) + bot * fy
        return out

    rng = np.random.default_rng(7)
    for (ih, iw), (oh, ow) in [((37, 53), (640, 640)), ((198, 153), (640, 640)),
                               ((64, 64), (17, 29)), ((5, 5), (5, 5))]:
        img = rng.integers(0, 256, size=(ih, iw)).astype(np.float64)
        got = resize_bilinear(img, oh, ow)
        want = ref_bilinear(img, oh, ow)
        assert np.abs(got / 255.0 - want / 255.0).max() <= 1e-3  # rescaled gate
        assert np.abs(got - want).max() <= 1e-9  # and exact in practice

    # hand-computed case: [0, 255] 1x2 -> 1x4 with half-pixel sampling:
    # x = {-0.25, 0.25, 0.75, 1.25} -> clamp -> {0, .25, .75, 1}
    got = resize_bilinear(np.array([[0.0, 255.0]]), 1, 4)
    assert np.allclose(got, [[0.0, 63.75, 191.25, 255.0]])

    # area downscale 4->2 averages disjoint pairs exactly
    got = resize_area(np.array([[0.0, 100.0, 200.0, 60.0]]), 1, 2)
    assert np.allclose(got, [[50.0, 130.0]])
    # fractional span: 3->2, pixel 0 = (a + 0.5*b)/1.5
    got = resize_area(np.array([[30.0, 60.0, 90.0]]), 1, 2)
    assert np.allclose(got, [[(30 + 0.5 * 60) / 1.5, (0.5 * 60 + 90) / 1.5]])
    # row-stochastic: constant image stays constant under both filters
    const = np.full((11, 13), 77.0)
    assert np.allclose(resize_bilinear(const, 7, 19), 77.0)
    assert np.allclose(resize_area(const, 7, 19), 77.0)


def test_with_confidence_on_staged_and_checkpointed_paths(spark, tmp_path):
    """The checkpointed path carries confidence as a per-page struct
    computed at the page grain (partial aggregation) through the elements
    checkpoint and folded after the doc shuffle — output must equal the
    fused path's ConfidenceReport, also when a rerun resumes from the
    committed checkpoints."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=17, n_docs=6, ocr_frac=0.25, keep_empty_clusters=True)
    docs = docs_dataframe(spark, cfg, num_partitions=2)

    def norm(rows):
        out = {}
        for r in rows:
            c = r["confidence"]
            out[r["doc_id"]] = (
                [s.asDict() for s in r["spans"]],
                (c["mean_score"], c["low_score"], c["mean_grade"],
                 c["low_grade"], tuple(p.asDict().items() for p in c["pages"])),
            )
        return out

    fused = norm(extract_spans(spark, docs, cfg, with_confidence=True).collect())
    ckpt = norm(extract_spans(spark, docs, cfg,
                              checkpoint_dir=str(tmp_path / "c"),
                              with_confidence=True).collect())
    assert ckpt == fused
    resumed = norm(extract_spans(spark, docs, cfg,
                                 checkpoint_dir=str(tmp_path / "c"),
                                 with_confidence=True).collect())
    assert resumed == fused


