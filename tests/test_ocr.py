"""OCR stage (S4): scanned regions with no extractable text get their
text from the (synthetic) recognizer and round-trip exactly."""

from high_performance_docling_spark.corpus import GenConfig, generate_doc
from high_performance_docling_spark.kernels.convert import synth_ocr_text
from high_performance_docling_spark.oracle import extract_doc_spans
from high_performance_docling_spark.pipeline import docs_dataframe, extract_spans
import high_performance_docling_spark.labels as L

OCR_CFG = GenConfig(
    seed=13, n_docs=15, ocr_frac=0.3, keep_empty_clusters=True, noise=True
)


def test_ocr_roundtrip_serial():
    from tests.test_corpus_roundtrip import expected_span

    n_scanned = 0
    for i in range(OCR_CFG.n_docs):
        d = generate_doc(OCR_CFG, i)
        out = extract_doc_spans(d["doc_id"], d["spans"], OCR_CFG)
        n_scanned += sum(
            1 for s in d["spans"] if s["media_ref"].startswith("scan:")
        )
        if any(s["kind"] == L.FORM for s in out):
            continue  # form-wrapper noise changes structure by design
        assert len(out) == len(d["spans"]), d["doc_id"]
        for s_in, s_out in zip(d["spans"], out):
            kind, text, _ = expected_span(s_in)
            # scanned spans: expected text is the recognizer output, which
            # the generator planted from the same crop geometry
            assert (s_out["kind"], s_out["text"]) == (kind, text), (
                d["doc_id"], s_in["offset"]
            )
            assert s_out["media_ref"] == (
                s_in["media_ref"] if s_in["kind"] == L.PICTURE else ""
            )
    assert n_scanned > 5  # the config actually exercised OCR


def test_ocr_text_is_geometry_keyed():
    t1 = synth_ocr_text("doc-x", 0, 10.0, 20.0, 110.0, 40.0)
    t2 = synth_ocr_text("doc-x", 0, 10.0, 20.0, 110.0, 40.0)
    t3 = synth_ocr_text("doc-x", 1, 10.0, 20.0, 110.0, 40.0)
    assert t1 == t2 and t1 != t3


def test_ocr_spark_fused_and_staged_match_oracle(spark, tmp_path):
    docs = docs_dataframe(spark, OCR_CFG, num_partitions=3)
    inputs = {
        r["doc_id"]: [s.asDict() for s in r["spans"]] for r in docs.collect()
    }
    for mode, ckpt in (("fused", None), ("checkpointed", str(tmp_path / "c"))):
        got = {
            r["doc_id"]: [s.asDict() for s in r["spans"]]
            for r in extract_spans(spark, docs, OCR_CFG,
                                   checkpoint_dir=ckpt).collect()
        }
        for doc_id, in_spans in inputs.items():
            assert got[doc_id] == extract_doc_spans(doc_id, in_spans, OCR_CFG), (
                mode, doc_id
            )
