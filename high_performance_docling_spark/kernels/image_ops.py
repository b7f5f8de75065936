"""Image-path kernels: page rendering stand-in, crops, resizes, model
preprocessing — NumPy only (no cv2/PIL/torch in this container).

Reference parity targets:
  - figure crop from the page image at images_scale
    (document_assembler.py:62-90 _extract_figure_images)
  - table ROI crop→resize with scale_factor = 1024 / page_height,
    integer-rounded clamped crops, per-crop resize, scaled bboxes
    (fork/table/tf_predictor.py:496-562 phase 1)
  - TF input square-resize + rescale + mean/std normalize to NCHW float32
    (tf_predictor.py:1117-1174 _batch_preprocess_images)
  - RT-DETR GPU preprocess: exact-size resize, optional pad to
    (640, 640), rescale 1/255, OPTIONAL normalize (RT-DETR typically
    doesn't — fork/layout/gpu_preprocess.py:52-68), NCHW float32
    (layout_predictor_gpu.py FIXED_H/W = 640)

The page "render" is a deterministic occupancy bitmap (cells → white
boxes on black, pictures → a position-dependent gray pattern), standing in for a PDF rasterizer the way the synthetic
detector stands in for RT-DETR: the bytes are fake, every shape,
coordinate transform, batch layout and dtype is real.
"""

from __future__ import annotations

import numpy as np

RENDER_SCALE = 0.25  # bitmap pixels per pt (keeps pages ~150x200 px)


def _pixel_box(
    box: list[float], scale: float, w: int, h: int
) -> tuple[int, int, int, int]:
    l, t, r, b = box
    return (max(0, int(np.floor(l * scale))), max(0, int(np.floor(t * scale))),
            min(w, int(np.ceil(r * scale))), min(h, int(np.ceil(b * scale))))


def render_page_bitmap(
    width: float, height: float, boxes: list[list[float]],
    scale: float = RENDER_SCALE, pictures: list[list[float]] = (),
) -> np.ndarray:
    """Deterministic grayscale page raster: uint8 [H, W], 255 where any
    box covers, 0 elsewhere; each picture box is then painted with the
    gray pattern (3·x + 5·y) mod 256 of its pixel coordinates, so a
    figure crop has content that depends on where the picture sits.
    ``boxes`` and ``pictures`` are (l, t, r, b) in page pts."""
    w = max(1, int(round(width * scale)))
    h = max(1, int(round(height * scale)))
    img = np.zeros((h, w), dtype=np.uint8)
    for box in boxes:
        x1, y1, x2, y2 = _pixel_box(box, scale, w, h)
        if x2 > x1 and y2 > y1:
            img[y1:y2, x1:x2] = 255
    for box in pictures:
        x1, y1, x2, y2 = _pixel_box(box, scale, w, h)
        if x2 > x1 and y2 > y1:
            ys = np.arange(y1, y2, dtype=np.int64)[:, None]
            xs = np.arange(x1, x2, dtype=np.int64)[None, :]
            img[y1:y2, x1:x2] = (3 * xs + 5 * ys) % 256
    return img


def crop_bitmap(img: np.ndarray, bbox: list[float], scale: float) -> np.ndarray:
    """Crop a page-pt bbox out of a rendered bitmap (the figure-crop
    semantics: bbox scaled into image space, integer crop —
    document_assembler.py:76-86)."""
    h, w = img.shape[:2]
    l, t, r, b = bbox
    x1 = max(0, int(round(l * scale)))
    y1 = max(0, int(round(t * scale)))
    x2 = min(w, int(round(r * scale)))
    y2 = min(h, int(round(b * scale)))
    return img[y1:y2, x1:x2].copy()


def _linear_axis_weights(in_n: int, out_n: int) -> np.ndarray:
    """[out_n, in_n] row-stochastic weights for BILINEAR antialias=False
    resize along one axis, in torch/torchvision's align_corners=False
    half-pixel convention (gpu_preprocess.py:92-101: F.resize(...,
    InterpolationMode.BILINEAR, antialias=False)): source coordinate of
    output i is (i + 0.5) * in/out - 0.5, clamped; two-tap linear
    interpolation between its floor/ceil neighbors."""
    w = np.zeros((out_n, in_n), dtype=np.float64)
    scale = in_n / out_n
    x = (np.arange(out_n) + 0.5) * scale - 0.5
    x = np.clip(x, 0.0, in_n - 1)
    x0 = np.floor(x).astype(int)
    x1 = np.minimum(x0 + 1, in_n - 1)
    f = x - x0
    w[np.arange(out_n), x0] += 1.0 - f
    w[np.arange(out_n), x1] += f
    return w


def _area_axis_weights(in_n: int, out_n: int) -> np.ndarray:
    """[out_n, in_n] row-stochastic weights for AREA-average downscale
    along one axis (cv2.INTER_AREA for shrink, tf_predictor.py:544-545):
    output pixel i averages the input span [i*s, (i+1)*s) with fractional
    boundary weights. For upscale (out_n > in_n) INTER_AREA degenerates
    to bilinear-like sampling, so fall back to the linear weights."""
    if out_n >= in_n:
        return _linear_axis_weights(in_n, out_n)
    w = np.zeros((out_n, in_n), dtype=np.float64)
    scale = in_n / out_n
    for i in range(out_n):
        lo, hi = i * scale, (i + 1) * scale
        j0, j1 = int(np.floor(lo)), int(np.ceil(hi))
        for j in range(j0, min(j1, in_n)):
            w[i, j] = min(hi, j + 1) - max(lo, j)
    return w / scale


def _resize_separable(img: np.ndarray, wh: np.ndarray, ww: np.ndarray) -> np.ndarray:
    """Apply per-axis weight matrices: out = Wh @ img @ Ww^T (per
    channel) — one vectorized pass, float64 accumulation."""
    squeeze = img.ndim == 2
    if squeeze:
        img = img[..., None]
    a = np.tensordot(wh, img.astype(np.float64), axes=(1, 0))  # [oh, w, c]
    out = np.tensordot(a, ww, axes=(1, 1)).transpose(0, 2, 1)  # [oh, ow, c]
    return out[..., 0] if squeeze else out


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pure-NumPy bilinear resize, antialias=False, align_corners=False —
    numerically equivalent to torchvision F.resize(BILINEAR,
    antialias=False), the filter the reference's GPU preprocess uses and
    gates at max-abs <= 1e-3 (scripts/verify_parity.py:116-117; parity
    asserted against an independent scalar-loop implementation in
    tests/test_training_ops.py). Returns float64; callers cast."""
    in_h, in_w = img.shape[:2]
    if in_h == 0 or in_w == 0:
        return np.zeros((out_h, out_w) + img.shape[2:], dtype=np.float64)
    return _resize_separable(
        img, _linear_axis_weights(in_h, out_h), _linear_axis_weights(in_w, out_w)
    )


def resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pure-NumPy INTER_AREA-style resize (box average on shrink,
    bilinear on stretch) — the table ROI downscale filter
    (tf_predictor.py:544-545). Returns float64; callers cast."""
    in_h, in_w = img.shape[:2]
    if in_h == 0 or in_w == 0:
        return np.zeros((out_h, out_w) + img.shape[2:], dtype=np.float64)
    return _resize_separable(
        img, _area_axis_weights(in_h, out_h), _area_axis_weights(in_w, out_w)
    )


def crop_table_rois(
    img: np.ndarray, page_height_pts: float, bboxes: list[list[float]],
    render_scale: float = RENDER_SCALE, target_height: float = 1024.0,
) -> list[dict]:
    """tf_predictor.py:496-562 phase 1, on the rendered bitmap: per table,
    scale_factor = target_height / page_height; crop from the ORIGINAL
    image with integer-rounded clamped coords; resize only the crop to
    (round(w*sf), round(h*sf)); return the crop, the scaled bbox and the
    scale factor. Degenerate boxes are skipped, like the reference."""
    out: list[dict] = []
    h, w = img.shape[:2]
    sf = target_height / float(page_height_pts)
    for x1, y1, x2, y2 in bboxes:
        ix1 = max(0, int(round(x1 * render_scale)))
        iy1 = max(0, int(round(y1 * render_scale)))
        ix2 = min(w, int(round(x2 * render_scale)))
        iy2 = min(h, int(round(y2 * render_scale)))
        if ix2 <= ix1 or iy2 <= iy1:
            continue  # skip degenerate boxes (:534-539)
        crop = img[iy1:iy2, ix1:ix2]
        tw = max(1, int(round((x2 - x1) * sf)))
        th = max(1, int(round((y2 - y1) * sf)))
        out.append(
            {
                "image": np.rint(resize_area(crop, th, tw)).clip(0, 255).astype(img.dtype),
                "scaled_bbox": [x1 * sf, y1 * sf, x2 * sf, y2 * sf],
                "scale_factor": sf,
            }
        )
    return out


def normalize_batch(
    images: list[np.ndarray], resized_size: int,
    mean: tuple[float, ...] = (0.94247851, 0.94254675, 0.94292611),
    std: tuple[float, ...] = (0.17910956, 0.17940403, 0.17931663),
) -> np.ndarray:
    """TF input normalize (tf_predictor.py:1117-1174): each image resized
    to (S, S), rescaled 1/255, (x - mean) / std per channel, stacked to
    NCHW float32. Grayscale inputs are promoted to HxWx1 (:1126-1129) and
    then broadcast across the 3-channel mean/std."""
    S = int(resized_size)
    out = np.empty((len(images), len(mean), S, S), dtype=np.float32)
    mean_a = np.asarray(mean, dtype=np.float32)
    std_a = np.asarray(std, dtype=np.float32)
    for i, img in enumerate(images):
        if img.ndim == 2:
            img = img[..., None]
        r = resize_bilinear(img, S, S).astype(np.float32) / 255.0
        if r.shape[2] == 1 and len(mean) == 3:
            r = np.repeat(r, 3, axis=2)
        r = (r - mean_a) / std_a
        out[i] = np.transpose(r, (2, 0, 1))
    return out


def preprocess_layout_batch(
    images: list[np.ndarray], out_h: int = 640, out_w: int = 640,
    do_pad: bool = True, do_rescale: bool = True, rescale_factor: float = 1 / 255.0,
    mean: tuple[float, ...] | None = None, std: tuple[float, ...] | None = None,
) -> np.ndarray:
    """RT-DETR layout preprocess (gpu_preprocess.py:43-120 semantics):
    aspect-preserving resize to fit (out_h, out_w) then zero-pad
    bottom/right when do_pad, else exact-size resize; rescale 1/255;
    normalize only if mean/std given (RT-DETR typically doesn't, :56).
    Returns NCHW float32 [B, 3, out_h, out_w] — the FIXED_BS static-shape
    contract of layout_predictor_gpu.py:25-26."""
    out = np.zeros((len(images), 3, out_h, out_w), dtype=np.float32)
    for i, img in enumerate(images):
        if img.ndim == 2:
            img = img[..., None]
        if img.shape[2] == 1:
            img = np.repeat(img, 3, axis=2)
        h, w = img.shape[:2]
        if do_pad:
            s = min(out_h / h, out_w / w)
            rh, rw = max(1, int(round(h * s))), max(1, int(round(w * s)))
        else:
            rh, rw = out_h, out_w
        r = resize_bilinear(img, rh, rw).astype(np.float32)
        if do_rescale:
            r = r * rescale_factor
        if mean is not None and std is not None:
            r = (r - np.asarray(mean, dtype=np.float32)) / np.asarray(std, dtype=np.float32)
        out[i, :, :rh, :rw] = np.transpose(r, (2, 0, 1))
    return out
