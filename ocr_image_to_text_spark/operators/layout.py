"""Reading-order reconstruction over token boxes.

Engine restatement of the reference's line clustering, verified
byte-for-byte against :mod:`ocr_image_to_text_spark.pyref` by
tests/test_layout_equiv.py. One listwise path per variant, whatever the
turn size.

Variants (SURVEY.md §2.4 A2):
  v1 — tol 20px, per-token anchor, top-edge y key, within-line key (x0, top_y)
       (ocr_app/core/ocr_engine.py:544-576)
  v2 — tol max(10, 0.01*H), per-token anchor, center-y key, within-line key x0
       (src/ocr_module.py:274-306, 339-370) — canonical default
  v3 — tol 10px, LINE-START anchor, (y0, x0) sort, no within-line re-sort
       (src/core/ocr_engine.py:72-100)

v1/v2 are gaps-and-islands: one stable sort, a line break wherever
adjacent keys differ by more than the tolerance, then a within-line sort.
v3's anchor depends on the previous break decision, so it is a
sequential scan per turn.
"""

from __future__ import annotations

import json
import math

import numpy as np


def _assemble(texts: list, order: list, line_id: list) -> str:
    """Join tokens (already in final order) into ' '-joined lines, '\n'-joined."""
    out = []
    cur: list[str] = []
    last = -1
    for pos, i in enumerate(order):
        if line_id[pos] != last and cur:
            out.append(" ".join(cur))
            cur = []
        cur.append(texts[i])
        last = line_id[pos]
    if cur:
        out.append(" ".join(cur))
    return "\n".join(out)


def layout_v1(polys, texts: list) -> str:
    """polys: (n, 4, 2) float64 ndarray OR nested lists."""
    n = len(texts)
    if n == 0:
        return ""
    y0 = [p[0][1] for p in polys]
    order = sorted(range(n), key=lambda i: y0[i])
    top_y = [min(pt[1] for pt in polys[i]) for i in order]
    x0 = [polys[i][0][0] for i in order]
    line_id = [0] * n
    lid = 0
    for j in range(1, n):
        if abs(top_y[j] - top_y[j - 1]) > 20:
            lid += 1
        line_id[j] = lid
    # within-line stable sort by (x0, top_y): seq index is the final tiebreak
    final = sorted(range(n), key=lambda j: (line_id[j], x0[j], top_y[j], j))
    return _assemble(texts, [order[j] for j in final],
                     [line_id[j] for j in final])


def layout_v2(polys, texts: list, img_h: float, geometry: str = "easy") -> str:
    n = len(texts)
    if n == 0:
        return ""
    tol = max(10, img_h * 0.01)
    if geometry == "paddle":
        cy = [(p[0][1] + p[3][1]) / 2 for p in polys]
    else:
        cy = [(p[0][1] + p[2][1]) / 2 for p in polys]
    order = sorted(range(n), key=lambda i: cy[i])
    cy_s = [cy[i] for i in order]
    x0 = [polys[i][0][0] for i in order]
    line_id = [0] * n
    lid = 0
    for j in range(1, n):
        if abs(cy_s[j] - cy_s[j - 1]) > tol:
            lid += 1
        line_id[j] = lid
    final = sorted(range(n), key=lambda j: (line_id[j], x0[j], j))
    return _assemble(texts, [order[j] for j in final],
                     [line_id[j] for j in final])


def layout_v3(polys, texts: list) -> str:
    n = len(texts)
    if n == 0:
        return ""
    order = sorted(range(n), key=lambda i: (polys[i][0][1], polys[i][0][0], i))
    ys = [polys[i][0][1] for i in order]
    # sequential line-anchor scan (anchor = y of the line-opening token)
    line_id = [0] * n
    anchor = ys[0]
    lid = 0
    for i in range(1, n):
        if abs(ys[i] - anchor) > 10:
            lid += 1
            anchor = ys[i]
        line_id[i] = lid
    return _assemble(texts, order, line_id)


# ENGINE ADDITION — recursive XY-cut page segmentation (Nagy & Seth,
# ICPR 1984). Column-aware reading order: the reference's three line
# clusterings interleave side-by-side columns line by line; XY-cut reads
# each column band fully before the next. Spec shared verbatim with the
# naive pure-Python twin pyref.format_with_layout_xycut (equivalence
# pinned by tests/test_layout_equiv.py): y cut first (gap 40px), else x
# cut (gap 56px > any intra-line word gap the corpus emits), recurse,
# leaf = canonical v2 line clustering. The per-region walk is a
# sequential scan like v3's anchor loop — bounded by the turn's token
# count, never cross-turn.
XY_GAP_X = 56.0
XY_GAP_Y = 40.0


def layout_xycut(polys, texts: list, img_h: float) -> str:
    n = len(texts)
    if n == 0:
        return ""
    P = np.asarray(polys, dtype=np.float64)
    lo_x = P[:, :, 0].min(axis=1)
    hi_x = P[:, :, 0].max(axis=1)
    lo_y = P[:, :, 1].min(axis=1)
    hi_y = P[:, :, 1].max(axis=1)

    def split(ids, lo, hi, gap):
        s = ids[np.argsort(lo[ids], kind="stable")]
        groups: list[list] = [[s[0]]]
        run_hi = hi[s[0]]
        for i in s[1:]:
            if lo[i] - run_hi > gap:
                groups.append([i])
            else:
                groups[-1].append(i)
            run_hi = max(run_hi, hi[i])
        return groups if len(groups) > 1 else None

    out: list[str] = []

    def rec(ids, depth: int) -> None:
        g = None
        if len(ids) > 1 and depth <= 32:
            g = (split(ids, lo_y, hi_y, XY_GAP_Y)
                 or split(ids, lo_x, hi_x, XY_GAP_X))
        if g is None:
            out.append(layout_v2([polys[i] for i in ids],
                                 [texts[i] for i in ids], img_h))
            return
        for grp in g:
            rec(np.asarray(grp), depth + 1)

    rec(np.arange(n), 0)
    return "\n".join(t for t in out if t)


def table_flag_of(all_polys) -> bool:
    """A13 — src/ocr_module.py:516-540 even-spacing heuristic.

    Computed over ALL detections (pre conf-filter), easy-geometry y centers
    (:527); population std (np.std default, :536), both computed as
    sequential sums — the oracle's fold order, which decides the
    std < mean/2 boundary bit for bit (numpy's pairwise summation does not).
    """
    n = len(all_polys)
    if n <= 10:
        return False
    cy = sorted((p[0][1] + p[2][1]) / 2 for p in all_polys)
    diffs = [cy[i + 1] - cy[i] for i in range(n - 1)]
    mean = sum(diffs) / len(diffs)
    var = sum((d - mean) ** 2 for d in diffs) / len(diffs)
    std = var ** 0.5
    return bool(std < mean * 0.5 and std > 0)


# Precision-layout structure analysis (engine restatement; naive twin =
# pyref.layout_analysis, semantics documented there — the shape the
# reference's test_precision_layout.py:154-165 consumes). The column
# count is ONE top-level vertical projection cut (the XY-cut x-axis
# rule): boxes sorted by low-x, a running max high-x, a new column when
# the next low edge clears it by more than XY_GAP_X.
_TITLE_MIN, _TITLE_MAX = 3, 50


def _column_count(polys) -> int:
    n = len(polys)
    if n == 0:
        return 0
    spans = sorted((min(pt[0] for pt in p), max(pt[0] for pt in p))
                   for p in polys)
    cols = 1
    run_hi = spans[0][1]
    for lo, hi in spans[1:]:
        if lo - run_hi > XY_GAP_X:
            cols += 1
        run_hi = max(run_hi, hi)
    return cols


def _line_structure_counts(lines: list[str]) -> tuple[int, int, int]:
    """(titles, bullets, numbered) over stripped v2 lines. Title = the X9
    header rule (uppercase, has a letter, 3 < len < 50); bullet/numbered
    = leading marker + whitespace."""
    titles = bullets = numbered = 0
    for line in lines:
        s = line.strip()
        if s == s.upper() and s != s.lower() and _TITLE_MIN < len(s) < _TITLE_MAX:
            titles += 1
        if len(s) >= 2 and s[0] in "-•*" and s[1].isspace():
            bullets += 1
        else:
            i = 0
            while i < len(s) and s[i].isdigit():
                i += 1
            if (0 < i < len(s) - 1 and s[i] in ".)"
                    and s[i + 1].isspace()):
                numbered += 1
    return titles, bullets, numbered


def layout_analysis_json(payload: str, conf_threshold: float = 0.3
                         ) -> tuple[int, int, int, int, int, int]:
    """Parse a boxes payload and produce the layout_analysis summary:
    (total_elements, line_groups, n_columns, n_titles, n_bullets,
    n_numbered)."""
    try:
        payload_obj = json.loads(payload)
    except (ValueError, TypeError):
        return 0, 0, 0, 0, 0, 0
    boxes = payload_obj.get("boxes") or []
    kept = [b for b in boxes if b[2] > conf_threshold]
    if not kept:
        return 0, 0, 0, 0, 0, 0
    polys = [b[0] for b in kept]
    text = layout_v2(polys, [b[1] for b in kept],
                     float(payload_obj.get("h", 0)))
    lines = text.split("\n") if text else []
    titles, bullets, numbered = _line_structure_counts(lines)
    return (len(kept), len(lines), _column_count(polys),
            titles, bullets, numbered)


def extract_boxes_json(payload: str, variant: str = "v2", geometry: str = "easy",
                       conf_threshold: float = 0.3) -> tuple[str, int, int, bool, str, int]:
    """Parse a boxes payload ONCE and derive every per-turn box product:
    conf filter (F1) + layout (A2) + A13 table flag + A5 flat concat + A9
    average confidence (`float(np.mean(confidences)) if confidences else
    0.0`, ocr_core/easyocr_reader.py:22-24 — restated as the sequential
    sum/len fold, scaled to int).

    Returns (extracted_text, n_tokens_kept, n_tokens_dropped, table_flag,
    flat_text, avg_conf_x1e9).
    """
    try:
        payload_obj = json.loads(payload)
    except (ValueError, TypeError):
        return "", 0, 0, False, "", 0
    boxes = payload_obj.get("boxes") or []
    n_total = len(boxes)
    kept = [b for b in boxes if b[2] > conf_threshold]
    n_kept = len(kept)
    tflag = table_flag_of([b[0] for b in boxes]) if n_total else False
    flat = " ".join(b[1] for b in kept)
    if n_kept:
        total = 0.0
        for b in kept:
            total += float(b[2])
        avg_x1e9 = int(math.floor(total / n_kept * 1e9 + 0.5))
    else:
        avg_x1e9 = 0
    if n_kept == 0:
        return "", 0, n_total, tflag, flat, avg_x1e9
    polys = [b[0] for b in kept]
    texts = [b[1] for b in kept]
    if variant == "v1":
        text = layout_v1(polys, texts)
    elif variant == "v3":
        text = layout_v3(polys, texts)
    elif variant == "xycut":
        text = layout_xycut(polys, texts, float(payload_obj.get("h", 0)))
    else:
        text = layout_v2(polys, texts, float(payload_obj.get("h", 0)), geometry)
    return text, n_kept, n_total - n_kept, tflag, flat, avg_x1e9
