"""Unit tests for XY-cut reading order and caption/footnote attachment."""

from high_performance_docling_spark.kernels.reading_order import (
    assemble_spans,
    predict_reading_order,
)


def el(cid, page, l, t, r, b, label="text", text="", media_ref="", children=None):
    return {
        "cid": cid, "page_no": page, "l": float(l), "t": float(t),
        "r": float(r), "b": float(b), "label": label, "text": text,
        "media_ref": media_ref, "children": children or [],
    }


def test_single_column_top_to_bottom():
    els = [el(0, 0, 50, 300, 500, 340), el(1, 0, 50, 100, 500, 140),
           el(2, 0, 50, 200, 500, 240)]
    assert predict_reading_order(els) == [1, 2, 0]


def test_two_columns_column_major():
    # header strip, then two columns (left read fully before right), footer
    els = [
        el(0, 0, 50, 20, 560, 32, "page_header"),
        el(1, 0, 50, 100, 290, 400),   # left col
        el(2, 0, 50, 420, 290, 700),   # left col lower
        el(3, 0, 320, 100, 560, 390),  # right col
        el(4, 0, 320, 410, 560, 700),  # right col lower
        el(5, 0, 50, 750, 560, 762, "page_footer"),
    ]
    assert predict_reading_order(els) == [0, 1, 2, 3, 4, 5]


def test_pages_ordered_before_layout():
    els = [el(0, 1, 50, 10, 100, 20), el(1, 0, 50, 700, 100, 710)]
    assert predict_reading_order(els) == [1, 0]


def test_caption_below_table_attaches():
    els = [
        el(0, 0, 50, 100, 500, 200, "table", "t"),
        el(1, 0, 50, 204, 500, 215, "caption", "cap"),
        el(2, 0, 50, 260, 500, 300, "text", "after"),
    ]
    spans = assemble_spans(els)
    assert [(s["kind"], s["order"]) for s in spans] == [
        ("table", 0), ("caption", 1), ("text", 2)
    ]


def test_caption_above_picture_emitted_after_parent():
    els = [
        el(0, 0, 50, 96, 500, 107, "caption", "cap"),
        el(1, 0, 50, 111, 500, 300, "picture", "", "img:abc"),
    ]
    spans = assemble_spans(els)
    assert [s["kind"] for s in spans] == ["picture", "caption"]
    assert spans[0]["media_ref"] == "img:abc"


def test_caption_far_away_stays_standalone():
    els = [
        el(0, 0, 50, 100, 500, 200, "table", "t"),
        el(1, 0, 50, 260, 500, 271, "caption", "cap"),  # gap 60 > 12
    ]
    spans = assemble_spans(els)
    assert [s["kind"] for s in spans] == ["table", "caption"]
    assert spans[1]["order"] == 1


def test_footnote_attaches_to_table():
    els = [
        el(0, 0, 50, 100, 500, 200, "table", "t"),
        el(1, 0, 50, 204, 500, 215, "footnote", "fn"),
    ]
    spans = assemble_spans(els)
    assert [s["kind"] for s in spans] == ["table", "footnote"]


def test_container_children_emitted_inline():
    els = [
        el(0, 0, 50, 100, 500, 200, "form", "", children=[
            {"label": "text", "text": "k1", "media_ref": ""},
            {"label": "text", "text": "v1", "media_ref": ""},
        ]),
        el(1, 0, 50, 230, 500, 260, "text", "after"),
    ]
    spans = assemble_spans(els)
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("form", ""), ("text", "k1"), ("text", "v1"), ("text", "after")
    ]
    assert [s["order"] for s in spans] == [0, 1, 2, 3]


def test_cross_column_paragraph_merge():
    els = [
        el(0, 0, 50, 100, 290, 400, "text", "first column continues"),
        el(1, 0, 320, 100, 560, 400, "text", "into the second column."),
        el(2, 1, 50, 100, 560, 200, "text", "New page paragraph."),
    ]
    spans = assemble_spans(els, enable_merges=True)
    assert [s["text"] for s in spans] == [
        "first column continues into the second column.",
        "New page paragraph.",
    ]
    assert [s["order"] for s in spans] == [0, 1]


def test_merge_blocked_by_punctuation_or_case():
    els = [
        el(0, 0, 50, 100, 290, 400, "text", "sentence ends."),
        el(1, 0, 320, 100, 560, 400, "text", "so no merge"),
        el(2, 1, 50, 100, 560, 200, "text", "continues"),
        el(3, 1, 50, 300, 560, 400, "text", "Capitalized start"),
    ]
    spans = assemble_spans(els, enable_merges=True)
    # el0 ends with '.', el3 starts uppercase → both blocked; el1→el2 is a
    # legitimate cross-page continuation and merges
    assert [s["text"] for s in spans] == [
        "sentence ends.", "so no merge continues", "Capitalized start",
    ]


def test_merges_disabled_by_default():
    els = [
        el(0, 0, 50, 100, 290, 400, "text", "first column continues"),
        el(1, 0, 320, 100, 560, 400, "text", "into the second column."),
    ]
    assert len(assemble_spans(els)) == 2


def _el(cid, page, l, t, r, b, label, text):
    return {"cid": cid, "page_no": page, "l": float(l), "t": float(t),
            "r": float(r), "b": float(b), "label": label, "text": text,
            "media_ref": "", "children": []}


def test_predict_merges_cross_page_golden():
    """Golden: punctuation-realistic paragraph split across a page
    boundary (and a column boundary) re-joins under enable_merges=True;
    sentence-terminal punctuation and uppercase continuations block it."""
    from high_performance_docling_spark.kernels.reading_order import assemble_spans

    els = [
        _el(0, 0, 50, 60, 550, 120, "text",
            "The quarterly report shows revenue grew in every"),
        _el(1, 1, 50, 60, 550, 120, "text",
            "segment except hardware, which declined slightly."),  # merges into 0
        _el(2, 1, 50, 140, 550, 200, "text",
            "A new paragraph starts here. It ends properly."),     # upper → no merge
        _el(3, 2, 50, 60, 290, 400, "text",
            "Column one trails off without a final"),
        _el(4, 2, 310, 60, 550, 400, "text",
            "stop and continues in column two."),                  # merges into 3
        _el(5, 3, 50, 60, 550, 120, "text",
            "This sentence is complete."),                         # punct → no merge
        _el(6, 4, 50, 60, 550, 120, "text",
            "it would continue but the previous ended with a period"),
    ]
    spans = assemble_spans(els, enable_merges=True)
    golden = [
        ("text", "The quarterly report shows revenue grew in every "
                 "segment except hardware, which declined slightly."),
        ("text", "A new paragraph starts here. It ends properly."),
        ("text", "Column one trails off without a final "
                 "stop and continues in column two."),
        ("text", "This sentence is complete."),
        ("text", "it would continue but the previous ended with a period"),
    ]
    assert [(s["kind"], s["text"]) for s in spans] == golden
    assert [s["order"] for s in spans] == list(range(5))


def test_list_marker_processing_golden():
    """Golden: marker'd texts normalize to list_item (marker stripped,
    enumerated flagged), a marker-only box merges forward, consecutive
    items group (ListItemMarkerProcessor role, readingorder_model.py:15-17)."""
    from high_performance_docling_spark.kernels.list_markers import (
        process_list_markers,
        split_marker,
    )
    from high_performance_docling_spark.kernels.reading_order import assemble_spans

    assert split_marker("- bullet point") == ("-", "bullet point")
    assert split_marker("(iv) roman entry") == ("(iv)", "roman entry")
    assert split_marker("3. third") == ("3.", "third")
    assert split_marker("plain text here") == ("", "plain text here")

    els = [
        _el(0, 0, 50, 40, 550, 60, "section_header", "Agenda"),
        _el(1, 0, 50, 80, 550, 100, "text", "- first bullet"),
        _el(2, 0, 50, 110, 550, 130, "text", "- second bullet"),
        _el(3, 0, 50, 140, 70, 160, "text", "3."),            # marker-only box
        _el(4, 0, 80, 140, 550, 160, "text", "third entry split from marker"),
        _el(5, 0, 50, 180, 550, 200, "text", "Closing paragraph."),
        _el(6, 0, 50, 220, 550, 240, "text", "a) lettered item in a new group"),
    ]
    import copy

    kernel_els = copy.deepcopy(els)  # the kernel mutates; keep els fresh
    by_cid = {e["cid"]: e for e in kernel_els}
    ordered = [e["cid"] for e in kernel_els]
    res = process_list_markers(by_cid, ordered)
    assert res["absorbed"] == {4}
    assert res["groups"] == {0: [1, 2, 3], 1: [6]}
    assert by_cid[3]["text"] == "third entry split from marker"
    assert by_cid[3]["marker"] == "3." and by_cid[3]["enumerated"]
    assert by_cid[1]["marker"] == "-" and not by_cid[1]["enumerated"]

    spans = assemble_spans(els, process_list_markers=True)
    golden = [
        ("section_header", "Agenda"),
        ("list_item", "first bullet"),
        ("list_item", "second bullet"),
        ("list_item", "third entry split from marker"),
        ("text", "Closing paragraph."),
        ("list_item", "lettered item in a new group"),
    ]
    assert [(s["kind"], s["text"]) for s in spans] == golden


def test_merge_and_marker_flags_thread_through_pipeline(spark, tmp_path):
    """cfg.enable_merges / cfg.process_list_markers reach both execution
    paths: fused and checkpointed outputs stay equal with the flags on."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=3, n_docs=8, enable_merges=True,
                    process_list_markers=True)
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    fused = {r["doc_id"]: [tuple(s) for s in r["spans"]]
             for r in extract_spans(spark, docs, cfg).collect()}
    staged = {r["doc_id"]: [tuple(s) for s in r["spans"]]
              for r in extract_spans(spark, docs, cfg,
                                     checkpoint_dir=str(tmp_path / "c")).collect()}
    assert fused == staged and len(fused) == 8


# ---------------------------------------------------------------------------
# rb-vs-xycut divergence goldens (VERDICT r2 #3): layouts where the
# precedence-graph order is right and recursive XY-cut interleaves
# ---------------------------------------------------------------------------

def test_rb_reads_columns_through_aligned_whitespace_band():
    """Two columns whose paragraphs leave a page-wide horizontal
    whitespace band WIDER than the column gutter. XY-cut takes the widest
    gap first -> horizontal cut -> interleaves the columns (A B C D);
    the rb precedence graph follows each column chain (A C B D)."""
    els = [
        el(0, 0, 50, 100, 290, 200, "text", "A"),    # left top
        el(1, 0, 320, 100, 560, 200, "text", "B"),   # right top
        el(2, 0, 50, 300, 290, 400, "text", "C"),    # left bottom
        el(3, 0, 320, 300, 560, 400, "text", "D"),   # right bottom
    ]
    # the band between y=200 and y=300 (100pt) dwarfs the 30pt gutter
    assert predict_reading_order(els, mode="xycut") == [0, 1, 2, 3]
    assert predict_reading_order(els, mode="rb") == [0, 2, 1, 3]  # golden


def test_rb_full_width_element_waits_for_both_columns():
    """A full-width table below two columns is entered only after BOTH
    columns are exhausted (its up-set spans the columns)."""
    els = [
        el(0, 0, 50, 100, 290, 300, "text", "L1"),
        el(1, 0, 320, 100, 560, 250, "text", "R1"),
        el(2, 0, 320, 270, 560, 420, "text", "R2"),
        el(3, 0, 50, 320, 290, 430, "text", "L2"),
        el(4, 0, 50, 460, 560, 560, "table", "T"),
    ]
    order = predict_reading_order(els, mode="rb")
    assert order == [0, 3, 1, 2, 4]  # golden: left chain, right chain, table
    assert order.index(4) == len(els) - 1


def test_rb_footnote_above_figure_layout_golden():
    """The VERDICT r2 divergence case: a multi-column page where a
    footnote sits ABOVE its figure. Attachment pulls the footnote to the
    picture (emitted after it), and the rb order keeps each column
    intact; XY-cut interleaves the columns through the aligned band."""
    els = [
        el(0, 0, 50, 80, 560, 95, "section_header", "H"),
        el(1, 0, 50, 120, 290, 240, "text", "left-para"),
        el(2, 0, 320, 120, 560, 131, "footnote", "fn-above-fig"),
        el(3, 0, 320, 138, 560, 240, "picture", "", "img:1"),
        el(4, 0, 50, 330, 290, 430, "text", "left-tail"),
        el(5, 0, 320, 330, 560, 430, "text", "right-tail"),
    ]
    spans = assemble_spans(els)  # rb default
    golden = [
        ("section_header", "H", ""),
        ("text", "left-para", ""),
        ("text", "left-tail", ""),
        ("picture", "", "img:1"),
        ("footnote", "fn-above-fig", ""),
        ("text", "right-tail", ""),
    ]
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == golden
    # and xycut would have interleaved: left-para, fn, pic, left-tail, ...
    xy = predict_reading_order(els, mode="xycut")
    rb = predict_reading_order(els, mode="rb")
    assert xy != rb
    assert rb == [0, 1, 4, 2, 3, 5]


def test_rb_same_line_segments_chain_left_to_right():
    """Two consecutive TEXT segments of one wrapped line (tiny gap,
    shared top) read left->right as a unit before the block below,
    even though the block below starts higher than the right segment's
    bottom edge would suggest under a naive (t, l) sort."""
    els = [
        el(0, 0, 50, 100, 200, 112, "text", "line-a"),
        el(1, 0, 204, 100, 400, 112, "text", "line-b"),
        el(2, 0, 50, 118, 400, 180, "text", "para"),
    ]
    assert predict_reading_order(els, mode="rb") == [0, 1, 2]


def test_rb_mode_flag_threads_through_config(spark):
    """GenConfig.reading_order_mode selects the per-page algorithm in the
    full pipeline; both modes round-trip the validated corpus."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.oracle import extract_doc_spans
    from high_performance_docling_spark.corpus import generate_doc

    for mode in ("rb", "xycut"):
        cfg = GenConfig(seed=21, n_docs=6, noise=False,
                        reading_order_mode=mode)
        for i in range(cfg.n_docs):
            d = generate_doc(cfg, i)
            out = extract_doc_spans(d["doc_id"], d["spans"], cfg)
            assert [s["order"] for s in out] == [s["offset"] for s in d["spans"]]
