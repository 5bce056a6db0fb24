"""Vectorized fetch+parse stage — the engine's replacement for the
reference's one-network-call-per-row loop (reference
app_wrapper.py:165-168 calling web_scraper.py:8-54 per URL).

``fetch_arrow_fn`` (the engine's stage since r6) is a ``mapInArrow``
stage: an iterator of Arrow batches of admitted frontier rows in, an
iterator of batches of (status, error, title, spans, outlinks) out,
with the whole synthetic page derivation vectorized in numpy and the
span/outlink list columns assembled directly as Arrow buffers — zero
per-row Python on the hot path. In production this body would issue
pipelined async HTTP per batch, with a per-executor connection pool
(the per-partition analog of the reference's ``requests.Session``
reuse, web_scraper_js.py:26).

``_fetch_batch`` below is the original scalar per-row pandas body —
kept as the readable reference implementation and as the parity
target of tests/test_fetch_vectorized.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ai4orgwebscraper_spark import schemas
from ai4orgwebscraper_spark.sources.corpus import page_from_parts

_COLS = [f.name for f in schemas.FETCH_RESULT.fields]


def _fetch_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    # attempts > 0 -> the row is a 403 retry routed through the JS
    # fetcher (C6; reference web_scraper.py:46-48). Rows predate the
    # retry feature in old checkpoints, so default to 0.
    attempts = pdf["attempts"] if "attempts" in pdf.columns else pd.Series(0, index=pdf.index)
    # C7 session/auth: an auth-required host without a session token
    # yields 401 error rows (reference holds a requests.Session; the
    # network login itself is out of scope, the state is modeled)
    if "auth_required" in pdf.columns:
        # any falsy token (null OR empty string) is unauthenticated —
        # the oracle checks cfg.get('session_token') truthiness, so an
        # empty-string token must 401 in both engines (ADVICE r02)
        tok = pdf["session_token"]
        unauthed = pdf["auth_required"].fillna(False).astype(bool) & (
            tok.isna() | (tok == "")
        )
    else:
        unauthed = pd.Series(False, index=pdf.index)
    statuses, errors, titles, lats, spans_col, links_col = [], [], [], [], [], []
    for url, uh, host, att, noauth in zip(
        pdf["url"], pdf["url_hash"], pdf["host"], attempts, unauthed
    ):
        page = page_from_parts(url, uh, host, js=att > 0)
        if noauth:
            page.status, page.error = 401, "HTTP 401"
            page.title, page.spans, page.outlinks = None, [], []
        statuses.append(page.status)
        errors.append(page.error)
        titles.append(page.title)
        lats.append(page.latency_ms)
        if page.status == 200:
            spans_col.append(
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in page.spans
                ]
            )
            links_col.append(page.outlinks)
        else:
            spans_col.append(None)
            links_col.append(None)
    return pd.DataFrame(
        {
            "seq": pdf["seq"].values,
            "url_hash": pdf["url_hash"].values,
            "url": pdf["url"].values,
            "host": pdf["host"].values,
            "depth": pdf["depth"].values,
            "seed_rank": pdf["seed_rank"].values,
            "status": statuses,
            "error": errors,
            "title": titles,
            "latency_ms": lats,
            "fetched_at_ms": pdf["fetched_at_ms"].values,
            "attempts": attempts.values,
            "fetcher": np.where(attempts.to_numpy() > 0, "js", "plain"),
            "spans": spans_col,
            "outlinks": links_col,
        },
        columns=_COLS,
    )


# ---------------------------------------------------------------------------
# r6: fully vectorized Arrow fetch (guide §4.2 — "hand whole batches to
# vectorized native libraries"). `_fetch_batch` above loops Python per
# URL (~40 µs/row of splitmix calls, f-strings and span dicts, then a
# pandas→Arrow conversion of list-of-dict cells); this path reproduces
# the identical synthetic pages with numpy uint64 hash math (wrapping
# arithmetic == the & _M64 masking of corpus._mix) and assembles the
# span/outlink list columns directly as Arrow buffers — zero per-row
# Python objects on the hot path. Exact page-for-page equality with
# the scalar generator is pinned in tests/test_fetch_vectorized.py;
# the crawl goldens (tests/test_crawl_golden.py) hold unchanged.
# ---------------------------------------------------------------------------

from ai4orgwebscraper_spark.sources.corpus import (
    _PHRASES,
    _VOCAB,
    JS_LATENCY_FACTOR,
    N_HOSTS,
    SKEW_HOST,
)

_PHRASES_NP = np.array(_PHRASES, dtype=object)
_VOCAB_NP = np.array(_VOCAB, dtype=object)
_HEX_LUT = np.zeros(256, dtype=np.uint64)
for _c in "0123456789abcdef":
    _HEX_LUT[ord(_c)] = int(_c, 16)
_HOSTS_NP = np.array(
    [f"host{i}.example.com" for i in range(N_HOSTS)], dtype=object
)


def _mix_np(x):
    """splitmix64 finalizer on uint64 arrays — numpy's wrapping uint64
    arithmetic is exactly corpus._mix's `& _M64` masking."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hex16_to_u64(uh_arr) -> "np.ndarray":
    """int(uh[:16], 16) for a whole Arrow string column at once: slice
    to 16 code units, read the contiguous data buffer as an (n, 16)
    byte matrix, fold nibbles."""
    import pyarrow.compute as pc

    s16 = pc.utf8_slice_codeunits(uh_arr, 0, 16)
    if hasattr(s16, "combine_chunks"):
        s16 = s16.combine_chunks()
    n = len(s16)
    off = np.frombuffer(s16.buffers()[1], dtype=np.int32)[
        s16.offset: s16.offset + n + 1
    ]
    data = np.frombuffer(s16.buffers()[2], dtype=np.uint8)
    mat = data[off[0]: off[0] + 16 * n].reshape(n, 16)
    nib = _HEX_LUT[mat]
    h = np.zeros(n, dtype=np.uint64)
    for i in range(16):
        h = (h << np.uint64(4)) | nib[:, i]
    return h


def _hex_str(vals, width: int):
    """%0<width>x of a uint64 vector (object array of python strs).
    Only runs on the small media/outlink subsets, never per corpus row."""
    fmt = f"%0{width}x"
    return np.array([fmt % v for v in vals.tolist()], dtype=object)


def _fetch_arrow_batch(b):
    import pyarrow as pa
    import pyarrow.compute as pc

    names = set(b.schema.names)
    n = b.num_rows
    uh = b.column(b.schema.names.index("url_hash"))
    h = _hex16_to_u64(uh)

    if "attempts" in names:
        att_col = b.column(b.schema.names.index("attempts"))
        att = (
            pc.coalesce(att_col, pa.scalar(0, att_col.type))
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    else:
        att = np.zeros(n, dtype=np.int64)
    js = att > 0

    if "auth_required" in names:
        ar = b.column(b.schema.names.index("auth_required"))
        tok = b.column(b.schema.names.index("session_token"))
        unauthed = pc.and_(
            pc.coalesce(ar, pa.scalar(False)),
            pc.or_(pc.is_null(tok), pc.equal(pc.coalesce(tok, pa.scalar("")), "")),
        ).to_numpy(zero_copy_only=False).astype(bool)
    else:
        unauthed = np.zeros(n, dtype=bool)

    roll = h % np.uint64(100)
    status = np.full(n, 200, dtype=np.int32)
    status[(roll >= 80) & (roll < 88)] = 403
    status[(roll >= 88) & (roll < 94)] = 404
    status[roll >= 94] = 500
    latency = (np.uint64(20) + (h >> np.uint64(8)) % np.uint64(480)).astype(np.int64)
    latency[js] *= JS_LATENCY_FACTOR
    status[js & (status == 403)] = 200  # bot-block bypassed via JS fetcher

    final_status = np.where(unauthed, 401, status).astype(np.int32)
    active = (status == 200) & ~unauthed  # rows that render content

    # ---- spans: paragraph/media stream, vectorized over rows ----------
    n_paras = ((h >> np.uint64(16)) % np.uint64(6)).astype(np.int64) + 1
    s = _mix_np(h)
    offset = np.zeros(n, dtype=np.int64)
    rows_f: list = []
    offs_f: list = []
    kind_f: list = []
    text_f: list = []
    media_f: list = []
    row_idx = np.arange(n, dtype=np.int64)
    for p in range(6):
        m = active & (n_paras > p)
        if not m.any():
            break
        s = np.where(m, _mix_np(s), s)
        ph = s
        rows_f.append(row_idx[m])
        offs_f.append(offset[m])
        kind_f.append(np.zeros(int(m.sum()), dtype=np.int8))  # text
        text_f.append(_PHRASES_NP[(ph[m] % np.uint64(len(_PHRASES))).astype(np.int64)])
        media_f.append(np.full(int(m.sum()), None, dtype=object))
        offset[m] += 1
        med = m & (((ph >> np.uint64(4)) % np.uint64(3)) == 0)
        if med.any():
            s = np.where(med, _mix_np(s), s)
            img = np.array(
                ["/img/" + x + ".png" for x in _hex_str((s[med] >> np.uint64(32)), 8)],
                dtype=object,
            )
            rows_f.append(row_idx[med])
            offs_f.append(offset[med])
            kind_f.append(np.ones(int(med.sum()), dtype=np.int8))  # media_ref
            text_f.append(
                _VOCAB_NP[((ph[med] >> np.uint64(8)) % np.uint64(len(_VOCAB))).astype(np.int64)]
            )
            media_f.append(img)
            offset[med] += 1

    if rows_f:
        fr = np.concatenate(rows_f)
        fo = np.concatenate(offs_f)
        fk = np.concatenate(kind_f)
        ft = np.concatenate(text_f)
        fm = np.concatenate(media_f)
        order = np.lexsort((fo, fr))
        fr, fo, fk, ft, fm = fr[order], fo[order], fk[order], ft[order], fm[order]
    else:
        fr = np.zeros(0, dtype=np.int64)
        fo = np.zeros(0, dtype=np.int64)
        fk = np.zeros(0, dtype=np.int8)
        ft = np.zeros(0, dtype=object)
        fm = np.zeros(0, dtype=object)

    span_counts = np.bincount(fr, minlength=n) if len(fr) else np.zeros(n, np.int64)
    span_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(span_counts, out=span_offsets[1:])
    span_values = pa.StructArray.from_arrays(
        [
            pa.array(np.where(fk == 0, "text", "media_ref"), type=pa.string()),
            pa.array(ft, type=pa.string()),
            pa.array(fm, type=pa.string()),
            pa.array(fo.astype(np.int32), type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_arr = pa.ListArray.from_arrays(
        pa.array(span_offsets, type=pa.int32()), span_values
    )
    # non-content rows carry NULL spans/outlinks (schema contract)
    null_mask = pa.array(~active)
    spans_arr = pc.if_else(null_mask, pa.nulls(n, spans_arr.type), spans_arr)

    # ---- outlinks: continue the same per-row stream -------------------
    n_links = ((h >> np.uint64(24)) % np.uint64(5)).astype(np.int64)
    lrows: list = []
    lpos: list = []
    lstr: list = []
    for k in range(5):
        m = active & (n_links > k)
        if not m.any():
            break
        s = np.where(m, _mix_np(s), s)
        lh = s[m]
        s = np.where(m, _mix_np(s), s)
        slug = _hex_str(s[m] >> np.uint64(24), 10)
        target = np.where(
            (lh % np.uint64(100)) < 40,
            SKEW_HOST,
            _HOSTS_NP[(lh % np.uint64(N_HOSTS)).astype(np.int64)],
        )
        rel = (lh % np.uint64(3)) == 0
        links = np.empty(len(slug), dtype=object)
        links[rel] = ["/p/" + sl for sl in slug[rel]]
        links[~rel] = [
            "https://" + t + "/p/" + sl for t, sl in zip(target[~rel], slug[~rel])
        ]
        lrows.append(row_idx[m])
        lpos.append(np.full(int(m.sum()), k, dtype=np.int64))
        lstr.append(links)

    if lrows:
        lr = np.concatenate(lrows)
        lp = np.concatenate(lpos)
        ls = np.concatenate(lstr)
        order = np.lexsort((lp, lr))
        lr, ls = lr[order], ls[order]
    else:
        lr = np.zeros(0, dtype=np.int64)
        ls = np.zeros(0, dtype=object)
    link_counts = np.bincount(lr, minlength=n) if len(lr) else np.zeros(n, np.int64)
    link_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(link_counts, out=link_offsets[1:])
    links_arr = pa.ListArray.from_arrays(
        pa.array(link_offsets, type=pa.int32()), pa.array(ls, type=pa.string())
    )
    links_arr = pc.if_else(null_mask, pa.nulls(n, links_arr.type), links_arr)

    # ---- scalar output columns ---------------------------------------
    err_pool = np.array([None, "HTTP 401", "HTTP 403", "HTTP 404", "HTTP 500"], dtype=object)
    err_idx = np.zeros(n, dtype=np.int64)
    err_idx[final_status == 401] = 1
    err_idx[final_status == 403] = 2
    err_idx[final_status == 404] = 3
    err_idx[final_status == 500] = 4
    errors = err_pool[err_idx]

    titles = np.full(n, None, dtype=object)
    if active.any():
        uh8 = pc.utf8_slice_codeunits(uh, 0, 8).to_numpy(zero_copy_only=False)
        titles[active] = np.array(
            ["Page " + x for x in uh8[active]], dtype=object
        )

    fetcher = np.where(js, "js", "plain")

    def col(name):
        return b.column(b.schema.names.index(name))

    arrays = [
        col("seq"),
        col("url_hash"),
        col("url"),
        col("host"),
        pc.cast(col("depth"), pa.int32()),
        col("seed_rank"),
        pa.array(final_status, type=pa.int32()),
        pa.array(errors, type=pa.string()),
        pa.array(titles, type=pa.string()),
        pa.array(latency.astype(np.int32), type=pa.int32()),
        col("fetched_at_ms"),
        pa.array(att.astype(np.int32), type=pa.int32()),
        pa.array(fetcher, type=pa.string()),
        spans_arr,
        links_arr,
    ]
    return pa.RecordBatch.from_arrays(arrays, names=_COLS)


def fetch_arrow_fn(batches):
    """The engine's mapInArrow fetch stage."""
    # Drain the input stream BEFORE yielding any output: a worker that
    # writes output while the JVM is still streaming input can deadlock
    # on mutual socket backpressure (worker wedged in tcp_sendmsg, JVM
    # writer blocked, observed on multi-million-row stages). Partition
    # sizing bounds the buffer (2x-parallelism partitions -> ~100k rows
    # per task).
    pending = [b for b in batches if b.num_rows > 0]
    for b in pending:
        yield _fetch_arrow_batch(b)
