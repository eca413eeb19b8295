"""E7/S9: the image+caption payload branch (north rule — the reference
explicitly refuses image fetches, pkg/xcrawl3r/xcrawl3r.go:68-75,420, while
still emitting them as discovered URLs :178-183; this engine ingests them).

Input: the ``images`` table in exact ``input_hint`` shape
(image_id, bytes:binary, w, h, fmt, caption, phash:long).

``decode_and_verify`` is an Arrow-batched ``mapInPandas`` stage: decode the
binary payload (real PNG codec; deterministic XJPG stand-in for lossy —
functions/imagecodec.py), recompute w/h/phash, check the per-row invariant
vs the reference payload (PSNR >= 40 dB for lossy formats, exact for
lossless, caption byte-equality), and emit per-partition lineage
(TaskContext.partitionId) so every output row is attributable to the task
that produced it — the checkpoint/resume audit trail.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xcrawl3r_spark.functions.imagecodec import (
    decode_image,
    phash64_batch,
    popcount64,
    psnr_batch,
    synth_pixels_batch,
)

VERIFY_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, phash long, "
    "decoded_w int, decoded_h int, phash_recomputed long, phash_hamming int, "
    "phash_ok boolean, psnr_db double, "
    "pixel_ok boolean, caption_ok boolean, part_id int"
)

LINEAGE_SCHEMA = "part_id int, n_rows long, n_ok long, stage string"


def _verify_batches_carry(carry: tuple[str, ...],
                          expected_caption: str | None = None,
                          synthetic_pixel_check: bool = True):
    def _verify_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else -1
        cols = list(carry) + [
            "image_id", "w", "h", "fmt", "caption", "phash",
            "decoded_w", "decoded_h", "phash_recomputed", "phash_hamming",
            "phash_ok", "psnr_db", "pixel_ok", "caption_ok", "part_id",
        ]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame([], columns=cols)
                continue
            ids = pdf["image_id"].tolist()
            fmts = pdf["fmt"].tolist()
            ws, hs = pdf["w"].tolist(), pdf["h"].tolist()
            # the carried phash crosses the Arrow boundary as a STRING:
            # Spark's Arrow->pandas input conversion float64-coerces an
            # int64 column that contains any null (absent payloads), and
            # 60-bit phash values lose their low bits past 2^53 — parsed
            # back to exact ints here
            phashes = [None if x is None else int(x)
                       for x in pdf["phash_str"].tolist()]
            # per-row CODEC boundary only: variable-length zlib payloads
            # can't stack. All math below runs batched per dimension group.
            decoded: list = []
            for bts, fmt in zip(pdf["bytes"].tolist(), fmts):
                px = None
                if bts is not None and fmt is not None:
                    try:
                        px = decode_image(bts, fmt)
                    except (ValueError, NotImplementedError):
                        px = None
                decoded.append(px)
            # defaults = the unfetched/undecodable row shape
            dec_w: list = [None] * n
            dec_h: list = [None] * n
            ph_rec: list = [None] * n
            ph_ham: list = [None] * n
            ph_ok = [False] * n
            psnr_db: list = [None] * n
            pix_ok = [False] * n
            cap_ok = [False] * n
            # caption equality, vectorized (applied to decoded rows only —
            # undecodable rows stay False like every other invariant)
            if expected_caption is not None:
                exp = pdf[expected_caption]
                cap_all = (exp.notna() & (pdf["caption"] == exp)).tolist()
            else:
                # synthetic-corpus fallback: the generator's caption
                # convention (fillna: absent-payload rows have a null
                # image_id; they're undecodable so cap_all is never read
                # for them, but str + None would throw in the vector add)
                cap_all = (
                    pdf["caption"]
                    == ("caption for " + pdf["image_id"].fillna(""))
                ).tolist()
            # group decodable rows by (decoded dims, carried dims): within
            # a group every stack/ref/psnr/phash op is one numpy pass —
            # the r2 row-at-a-time itertuples loop spent ~ms/row on numpy
            # call overhead for what is per-batch math
            groups: dict[tuple, list[int]] = {}
            for i, px in enumerate(decoded):
                # a null carried phash with non-null bytes must degrade to
                # the per-row failure shape (defaults), not TypeError the
                # whole Arrow task — the join side is not contractually
                # non-null here
                if px is not None and phashes[i] is not None:
                    groups.setdefault(
                        (px.shape[0], px.shape[1], ws[i], hs[i]), []
                    ).append(i)
            for (dh, dw, rw, rh), idxs in groups.items():
                stack = np.stack([decoded[i] for i in idxs])
                ph_arr = phash64_batch(stack)
                carried = np.array([int(phashes[i]) for i in idxs],
                                   dtype=np.int64)
                ham = popcount64(ph_arr.view(np.uint64)
                                 ^ carried.view(np.uint64))
                lossless = np.array([fmts[i] == "png" for i in idxs])
                # perceptual-hash invariant: exact for lossless; a lossy
                # codec may flip a few low-signal bits -> hamming tol 4
                okph = np.where(lossless, ham == 0, ham <= 4)
                p: np.ndarray | None
                if synthetic_pixel_check:
                    # synthetic-corpus ground truth: regenerate the pixels
                    # (only possible because the test corpus is generated)
                    if (dh, dw) == (rh, rw):
                        ref = synth_pixels_batch([ids[i] for i in idxs],
                                                 rw, rh)
                        p = psnr_batch(ref, stack)
                        eq = (ref == stack).all(axis=(1, 2, 3))
                        okpix = np.where(lossless, eq, p >= 40.0)
                    else:
                        p = np.zeros(len(idxs))
                        okpix = np.zeros(len(idxs), dtype=bool)
                else:
                    # general corpus: the payload-carried phash + dims are
                    # the ground truth (no regenerable reference pixels)
                    p = None
                    okpix = okph
                dims_ok = dw == rw and dh == rh
                for j, i in enumerate(idxs):
                    dec_w[i], dec_h[i] = dw, dh
                    ph_rec[i] = int(ph_arr[j])
                    ph_ham[i] = int(ham[j])
                    ph_ok[i] = bool(okph[j])
                    if p is not None:
                        psnr_db[i] = None if np.isinf(p[j]) else float(p[j])
                    pix_ok[i] = bool(okpix[j]) and dims_ok
                    cap_ok[i] = bool(cap_all[i])
            # reset_index: list-valued columns align positionally, so the
            # passthrough Series must too (batch frames usually carry a
            # clean RangeIndex, but that's not contractual)
            base = pdf.reset_index(drop=True)
            data = {c: base[c] for c in carry}
            data.update({
                "image_id": base["image_id"], "w": base["w"], "h": base["h"],
                "fmt": base["fmt"], "caption": base["caption"],
                "phash": pd.array(phashes, dtype="Int64"),
                # nullable Int64/Int32, NEVER plain lists: pandas
                # float64-coerces [int, None] and 60-bit+ phash values
                # lose their low bits past 2^53 (found live in the
                # characterize twin; same hazard here whenever a batch
                # has an absent/undecodable payload)
                "decoded_w": pd.array(dec_w, dtype="Int32"),
                "decoded_h": pd.array(dec_h, dtype="Int32"),
                "phash_recomputed": pd.array(ph_rec, dtype="Int64"),
                "phash_hamming": pd.array(ph_ham, dtype="Int32"),
                "phash_ok": ph_ok, "psnr_db": psnr_db,
                "pixel_ok": pix_ok, "caption_ok": cap_ok,
                "part_id": part_id,
            })
            yield pd.DataFrame(data, columns=cols)

    return _verify_batches


def decode_and_verify(
    images: DataFrame, carry: tuple[str, ...] = (),
    expected_caption_col: str | None = None,
    synthetic_pixel_check: bool = True,
) -> DataFrame:
    """images (input_hint schema) -> verified rows + per-partition id.

    ``carry`` columns (e.g. seed_id/url/iter from the crawl loop) pass
    through the Arrow stage unchanged and lead the output schema.

    Caption ground truth: if the payload table carries an
    ``expected_caption`` column (or ``expected_caption_col`` names one),
    caption_ok compares against it row-by-row — the general path for a
    reference-captioned corpus. Without one, the synthetic generator's
    caption convention is the fallback (test corpus only).

    ``synthetic_pixel_check=False`` drops the regenerate-and-compare
    pixel check (only meaningful for the synthetic corpus) and verifies
    pixels via the carried phash + decoded dimensions instead."""
    from xcrawl3r_spark.session import ship_package

    ship_package(images.sparkSession)
    if expected_caption_col is None and "expected_caption" in images.columns:
        expected_caption_col = "expected_caption"
    fmap = {f.name: f for f in images.schema.fields}
    carry_schema = "".join(
        f"{c} {fmap[c].dataType.simpleString()}, " for c in carry
    )
    from pyspark.sql import functions as F

    cols = list(carry) + ["image_id", "bytes", "w", "h", "fmt", "caption"]
    if expected_caption_col is not None and expected_caption_col not in cols:
        cols.append(expected_caption_col)
    # phash rides as a string through the Arrow boundary — see the parse
    # note in _verify_batches (int64-with-nulls float64-coerces on input)
    sel = [*cols, F.col("phash").cast("string").alias("phash_str")]
    return images.select(*sel).mapInPandas(
        _verify_batches_carry(tuple(carry), expected_caption_col,
                              synthetic_pixel_check),
        carry_schema + VERIFY_SCHEMA)


CHARACTERIZE_SCHEMA = (
    "fmt string, decoded_w int, decoded_h int, phash long, "
    "decoded_ok boolean, payload_status int, payload_outcome string, "
    "part_id int"
)

_CT_FMT = {"image/png": "png", "image/jpeg": "jpeg", "image/jpg": "jpeg"}


def characterize_payloads(
    payloads: DataFrame, carry: tuple[str, ...] = ("seed_id", "url", "iter"),
) -> DataFrame:
    """Decode + characterize LIVE-fetched image payloads (bytes +
    payload_content_type from ``http_fetch_payloads``): dimensions +
    perceptual hash + per-partition lineage. This is the real-HTTP twin
    of ``decode_and_verify`` — with no reference payload table there is
    nothing to verify AGAINST, so the stage records what was decoded
    (``decoded_ok`` false for missing/undecodable payloads, never a
    drop). ``payload_status`` and the transport's explicit
    ``payload_outcome`` marker (fetched/truncated/http_error/failed)
    pass through (nullable-int-safe), so the crawl's error branch
    classifies on what the transport actually did instead of inferring
    from null-patterns: a truncated over-cap payload, a dead host, and
    a completed fetch of a non-image content type are three different
    things. Same batched numpy kernels, per-row codec boundary only."""
    from xcrawl3r_spark.session import ship_package

    ship_package(payloads.sparkSession)
    fmap = {f.name: f for f in payloads.schema.fields}
    carry_schema = "".join(
        f"{c} {fmap[c].dataType.simpleString()}, " for c in carry)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else -1
        cols = list(carry) + ["fmt", "decoded_w", "decoded_h", "phash",
                              "decoded_ok", "payload_status",
                              "payload_outcome", "part_id"]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame([], columns=cols)
                continue
            fmts = [
                _CT_FMT.get((ct or "").lower())
                for ct in pdf["payload_content_type"].tolist()
            ]
            decoded: list = []
            for bts, fmt in zip(pdf["bytes"].tolist(), fmts):
                px = None
                if bts is not None and fmt is not None:
                    try:
                        px = decode_image(bts, fmt)
                    except (ValueError, NotImplementedError):
                        px = None
                decoded.append(px)
            dec_w: list = [None] * n
            dec_h: list = [None] * n
            phs: list = [None] * n
            ok = [False] * n
            groups: dict[tuple, list[int]] = {}
            for i, px in enumerate(decoded):
                if px is not None:
                    groups.setdefault(px.shape[:2], []).append(i)
            for (dh, dw), idxs in groups.items():
                stack = np.stack([decoded[i] for i in idxs])
                ph = phash64_batch(stack)
                for j, i in enumerate(idxs):
                    dec_w[i], dec_h[i] = dw, dh
                    phs[i] = int(ph[j])
                    ok[i] = True
            base = pdf.reset_index(drop=True)
            data = {c: base[c] for c in carry}
            # payload_status arrives float64-degraded when the batch has
            # nulls (the same coercion as phash below — harmless for
            # small ints but must go back out as a nullable int column)
            status = pd.array(
                [None if x is None or x != x else int(x)
                 for x in pdf["payload_status"].tolist()],
                dtype="Int32")
            data.update({"fmt": fmts,
                         "decoded_w": pd.array(dec_w, dtype="Int32"),
                         "decoded_h": pd.array(dec_h, dtype="Int32"),
                         # nullable Int64, NEVER a plain list: pandas
                         # float64-coerces [int, None], and phash values
                         # exceed 2^53 — the low bits silently round away
                         # (found live: …040 became …016 whenever a batch
                         # also contained an absent payload)
                         "phash": pd.array(phs, dtype="Int64"),
                         "decoded_ok": ok, "payload_status": status,
                         "payload_outcome": pdf["payload_outcome"].tolist(),
                         "part_id": part_id})
            yield pd.DataFrame(data, columns=cols)

    cols = list(carry) + ["bytes", "payload_content_type", "payload_status",
                          "payload_outcome"]
    return payloads.select(*cols).mapInPandas(
        gen, carry_schema + CHARACTERIZE_SCHEMA)


def lineage(verified: DataFrame) -> DataFrame:
    """Per-partition lineage rows (S9): how many rows each task produced
    and how many passed the invariant."""
    from pyspark.sql import functions as F

    return (
        verified.groupBy("part_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("pixel_ok") & F.col("caption_ok")).cast("long")
            ).alias("n_ok"),
        )
        .withColumn("stage", F.lit("decode_verify"))
    )


def phash_near_dup(
    images: DataFrame,
    hamming_max: int = 4,
    bits: int = 60,
    max_chunk_df: int | None = None,
) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE pairs over the input_hint
    table's ``phash`` column — the image-side twin of text simhash
    dedup (the first dedup pass every web-scale image+caption corpus
    runs: re-hosted/resized copies of one image land within a few
    phash bits of each other).

    Same engine path as ``simhash_near_dup``: banded pigeonhole bucket
    join (recall 1 uncapped) + exact bit_count(xor) verify, via
    ``dedupops.hamming_near_dup``. At 10^10 images the phash column is
    64 bits of metadata per row — the join never touches bytes, so the
    stage costs the same as text simhash regardless of payload size.

    Output: (image_a, image_b, hamming), image_a < image_b."""
    from xcrawl3r_spark.operators.dedupops import hamming_near_dup

    return hamming_near_dup(
        images, id_col="image_id", hash_col="phash",
        hamming_max=hamming_max, bits=bits, max_chunk_df=max_chunk_df,
    ).select(
        F.col("doc_a").alias("image_a"),
        F.col("doc_b").alias("image_b"),
        "hamming",
    )


def caption_gate(
    images: DataFrame,
    min_dim: int = 64,
    max_aspect: int = 3,
    min_caption_tokens: int = 2,
    max_caption_tokens: int = 64,
    min_caption_chars: int = 5,
    lang: str = "en",
    keep_all: bool = False,
) -> DataFrame:
    """LAION-style image+caption pair admission gate (Schuhmann et al.
    2021, public filter set): minimum image dimensions, aspect-ratio
    bound, caption token/char floors and ceiling, and caption
    language-ID — the joint metadata+text filter a 10^10-pair corpus
    applies before any expensive decode.

    All comparisons are INTEGER (the aspect bound is
    greatest(w,h) <= max_aspect * least(w,h) — no float division), and
    the language check reuses the marker-heuristic argmax pointed at
    the caption column; one map-side projection, zero shuffles, no
    bytes touched. Output: per-rule flags + the composite ``passes``;
    ``keep_all=True`` keeps EVERY input column alongside the flags so a
    composite pipeline (curate_images) can gate in the same scan with
    no join-back."""
    from xcrawl3r_spark.operators import textops

    toks = textops.tokens_col("caption")
    n_tok = F.size(toks)
    ranked = textops.lang_ranked_col("caption")
    size_ok = (F.col("w") >= min_dim) & (F.col("h") >= min_dim)
    aspect_ok = (
        F.greatest("w", "h") <= F.lit(max_aspect) * F.least("w", "h"))
    caption_ok = (
        (n_tok >= min_caption_tokens) & (n_tok <= max_caption_tokens)
        & (F.length(F.trim("caption")) >= min_caption_chars))
    lang_ok = ranked[0]["lang"] == lang
    lead = ["*"] if keep_all else ["image_id", "w", "h"]
    return images.select(
        *lead,
        n_tok.alias("n_caption_tokens"),
        size_ok.alias("size_ok"),
        aspect_ok.alias("aspect_ok"),
        caption_ok.alias("caption_ok"),
        lang_ok.alias("lang_ok"),
        (size_ok & aspect_ok & caption_ok & lang_ok).alias("passes"),
    )


def phash_dedup_clusters(
    images: DataFrame,
    hamming_max: int = 4,
    bits: int = 60,
    max_chunk_df: int | None = None,
    max_iters: int = 20,
) -> DataFrame:
    """The image-dedup REMOVAL step: phash near-dup pairs transitively
    closed into clusters, one canonical image kept per cluster (minimum
    image_id) — a resize chain a~b, b~c must collapse to ONE kept copy
    even when a and c never share a bucket, the same argument as text
    ``near_dup_clusters``.

    Output covers the FULL table: (image_id, cluster, is_canonical);
    keep iff is_canonical, singletons are their own cluster.
    Deterministic: cluster = min reachable image_id. Scale: the
    component table holds only images that appear in a pair; everything
    else is the banded join's cost."""
    from xcrawl3r_spark.operators.graph import connected_components

    pairs = phash_near_dup(images, hamming_max, bits, max_chunk_df)
    comp = connected_components(
        pairs, max_iters=max_iters, src="image_a", dst="image_b")
    return (
        images.select("image_id")
        .join(comp.withColumnRenamed("id", "image_id"), "image_id", "left")
        .select(
            "image_id",
            F.coalesce("component", "image_id").alias("cluster"),
        )
        .withColumn("is_canonical", F.col("image_id") == F.col("cluster"))
    )


def default_ar_buckets(
    pixel_budget: int = 1024 * 1024,
    step: int = 64,
    min_side: int = 512,
    max_side: int = 2048,
) -> list[tuple[int, int]]:
    """The NovelAI/SDXL-family aspect-ratio bucket list (public
    technique: NovelAI aspect-bucketing post 2022; SDXL report 2023,
    appendix "multi-aspect training"): for each width that is a multiple
    of ``step`` in [min_side, max_side], the largest step-multiple
    height with w*h <= pixel_budget. Covers portrait through landscape
    symmetrically (w=512 -> h=2048 ... w=2048 -> h=512 at the default
    1024^2 budget). Pure integers, deterministic — the same list is
    injected into the DuckDB oracle twin."""
    buckets: list[tuple[int, int]] = []
    for w in range(min_side, max_side + 1, step):
        h = min((pixel_budget // w) // step * step, max_side)
        if h >= min_side and (w, h) not in buckets:
            buckets.append((w, h))
    return buckets


#: integer scale for the rational aspect-distance score (see ar_bucketing)
AR_SCORE_SCALE = 1_000_000


def _ar_score_sql(
    bw: int, bh: int, scale: int = AR_SCORE_SCALE, div_op: str = "div",
) -> str:
    """Integer aspect-distance of (w, h) to bucket (bw, bh), identical in
    Spark SQL and DuckDB (pass div_op="//" for DuckDB's integer-division
    spelling): the symmetric ratio max(r, 1/r) of the two aspect ratios
    as an exact rational max(w*bh, h*bw)/min(w*bh, h*bw), fixed-pointed
    by ``scale`` with integer division. 1.0 (== scale) means exact
    aspect match; ties across buckets break on list order."""
    a = f"cast(w as bigint) * {bh}"
    b = f"cast(h as bigint) * {bw}"
    return f"(greatest({a}, {b}) * {scale}) {div_op} least({a}, {b})"


def ar_bucketing(
    images: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Multi-aspect training bucket assignment (SDXL-style): every image
    goes to the bucket whose aspect ratio is nearest its own, so a
    training loader can batch same-shaped resize targets without
    cropping information away.

    Argmin over the fixed bucket list is computed per row with NATIVE
    array functions (array of integer scores -> array_min ->
    array_position for the first-match tie-break) — one map-side
    projection, zero shuffles, whole-stage codegen, no UDF. All
    arithmetic is int64 (score = fixed-point symmetric ratio,
    ``_ar_score_sql``), so the DuckDB twin is bit-identical.

    Rows with non-positive dims are dropped (a 0 dim has no aspect).
    Output: (image_id, w, h, bucket_id 1-based, bucket_w, bucket_h).
    At 10^10 rows this is a pure scan stage; the bucket list (~25
    entries) lives in the plan as literals."""
    bks = buckets if buckets is not None else default_ar_buckets()
    scores = F.array(*[F.expr(_ar_score_sql(bw, bh)) for bw, bh in bks])
    idx = F.array_position(scores, F.array_min(scores)).cast("int")
    return (
        images
        .where((F.col("w") > 0) & (F.col("h") > 0))
        .select("image_id", "w", "h", idx.alias("bucket_id"))
        .select(
            "image_id", "w", "h", "bucket_id",
            F.element_at(
                F.array(*[F.lit(bw) for bw, _ in bks]),
                F.col("bucket_id")).alias("bucket_w"),
            F.element_at(
                F.array(*[F.lit(bh) for _, bh in bks]),
                F.col("bucket_id")).alias("bucket_h"),
        )
    )


#: (upper-exclusive least-dim bound, tier name); the last tier is open
RESOLUTION_TIERS = ((64, "icon"), (256, "thumb"), (1024, "sd"))
RESOLUTION_TIER_TOP = "hd"


def resolution_tiers(images: DataFrame) -> DataFrame:
    """Per-(fmt, tier) corpus observability for the image table — the
    numbers a curation run reads before picking admission thresholds
    (how much of the crawl is icons/thumbnails vs usable training
    material). Tier = least(w, h) bucketed at 64/256/1024.

    One map-side projection + ONE hash aggregate (partial map-side
    combine; output cardinality = |fmts| x 4 rows). All-integer sums:
    n_images, total_pixels (int64 — 10^10 rows x 10^6 px fits), and
    n_captioned (non-blank caption count)."""
    m = F.least("w", "h")
    tier = F.lit(RESOLUTION_TIER_TOP)
    for bound, name in reversed(RESOLUTION_TIERS):
        tier = F.when(m < bound, name).otherwise(tier)
    return (
        images.select(
            "fmt", tier.alias("tier"),
            (F.col("w").cast("long") * F.col("h")).alias("px"),
            (F.length(F.trim("caption")) > 0).cast("long").alias("cap"),
        )
        .groupBy("fmt", "tier")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("px").alias("total_pixels"),
            F.sum("cap").alias("n_captioned"),
        )
    )


#: retina-density suffix before the extension: img@2x.png -> img.png
_RETINA_RE = r"@[234]x(\.[A-Za-z0-9]{2,5})((?:[?#].*)?)$"
#: WordPress/CDN size suffix before the extension: img-300x200.jpg -> img.jpg
_SIZE_SUFFIX_RE = r"-\d{1,5}x\d{1,5}(\.[A-Za-z0-9]{2,5})((?:[?#].*)?)$"
#: query params that only select a rendition, never a different image
SIZE_QUERY_PARAMS = (
    "w", "h", "width", "height", "size", "resize", "fit",
    "quality", "dpr", "scale", "crop", "zoom",
)


def canonical_image_url(
    u, params: tuple[str, ...] = SIZE_QUERY_PARAMS,
):
    """Rendition-canonical form of an image URL as a native Column
    expression: retina suffix stripped, -WxH size suffix stripped,
    size-selection query params dropped (split/filter/rejoin — no UDF).
    Shared by thumbnail_variants and fetch_plan."""
    stripped = F.regexp_replace(
        F.regexp_replace(u, _RETINA_RE, r"$1$2"),
        _SIZE_SUFFIX_RE, r"$1$2")
    base = F.substring_index(stripped, "?", 1)
    qstr = F.when(
        stripped.contains("?"),
        F.substring(stripped, F.length(base) + 2, F.lit(1 << 20)),
    ).otherwise(F.lit(""))
    kept_params = F.filter(
        F.split(qstr, "&"),
        lambda p: (p != "") & ~F.array_contains(
            F.array(*[F.lit(k) for k in params]),
            F.substring_index(p, "=", 1)),
    )
    return F.when(
        F.size(kept_params) > 0,
        F.concat(base, F.lit("?"), F.array_join(kept_params, "&")),
    ).otherwise(base)


def thumbnail_variants(
    urls: DataFrame,
    url_col: str = "url",
    params: tuple[str, ...] = SIZE_QUERY_PARAMS,
) -> DataFrame:
    """Rendition-variant image-URL dedup: the SAME image is typically
    crawled at many CDN renditions (WordPress ``-300x200`` thumbnails,
    ``@2x`` retina copies, ``?width=640&quality=80`` resizer params).
    Canonicalizing those to one key BEFORE any fetch or phash work is
    the cheapest dedup pass an image crawl has — pure string surgery on
    the URL column, no bytes, no network.

    Canonical form: retina suffix stripped, -WxH size suffix stripped,
    size-selection query params dropped (native split/filter/rejoin —
    no UDF, RE2-safe regexes shared verbatim with the DuckDB twin).
    Grouping costs ONE shuffle (a window on canonical_url for the
    variant count + keeper — no self-join). Keeper preference is the
    pristine member (url == canonical, i.e. the full-size original) when
    the group has one, else the minimum url — deterministic either way.

    Output: (url, canonical_url, n_variants, is_kept)."""
    u = F.col(url_col)
    canonical = canonical_image_url(u, params)
    w = Window.partitionBy("canonical_url")
    keeper = F.min(
        F.struct(
            (F.col("url") != F.col("canonical_url")).alias("not_pristine"),
            F.col("url").alias("u"),
        )
    ).over(w)
    return (
        urls.select(u.alias("url"), canonical.alias("canonical_url"))
        .withColumn("n_variants", F.count("*").over(w))
        .withColumn("is_kept", F.col("url") == keeper["u"])
    )


def curate_images(
    images: DataFrame,
    budget: int = 5000,
    hamming_max: int = 4,
    min_dim: int = 64,
    max_aspect: int = 3,
    min_caption_tokens: int = 2,
    max_caption_tokens: int = 64,
    min_caption_chars: int = 5,
    lang: str = "en",
    seed: str = "imgpack",
) -> DataFrame:
    """The FULL image+caption training-corpus assembly pipeline — the
    image twin of ``pipeline.corpus_curate``:

        1. LAION-style admission gate (caption_gate, keep_all=True):
           every size/aspect/caption/language rule in ONE map-side scan,
           no join-back;
        2. perceptual dedup = phash near-dup pairs -> transitive closure
           -> keep cluster canonicals (phash_dedup_clusters over gate
           SURVIVORS only — the banded join never sees rejected rows);
        3. pack survivors to ``budget`` caption tokens per fmt in
           seeded-hash order (pack_token_budget semantics: admit iff the
           running total INCLUDING the row is <= budget).

    Deterministic end-to-end, all-integer comparisons, no bytes touched
    (phash + dims + caption are metadata columns). At 10^10 pairs the
    plan is: one scan (gate) -> banded self-join on survivors (phash) ->
    big-big join back (canonical filter) -> one window per fmt.

    Output: (image_id, fmt, w, h, cluster, n_caption_tokens,
    cum_tokens), admitted rows only."""
    from xcrawl3r_spark.functions.hashing import seeded

    gated = caption_gate(
        images, min_dim, max_aspect, min_caption_tokens,
        max_caption_tokens, min_caption_chars, lang, keep_all=True,
    ).where("passes")
    canon = phash_dedup_clusters(
        gated.select("image_id", "phash"), hamming_max,
    ).where("is_canonical").select("image_id", "cluster")
    survivors = gated.join(canon, "image_id")
    pack_w = (
        Window.partitionBy("fmt")
        .orderBy("_ph", "image_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        survivors
        .withColumn("_ph", seeded(F.col("image_id"), seed))
        .withColumn(
            "cum_tokens",
            F.sum("n_caption_tokens").over(pack_w).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select("image_id", "fmt", "w", "h", "cluster",
                "n_caption_tokens", "cum_tokens")
    )


#: <img src="..."> — `\ssrc` keeps data-src/srcset from matching; value
#: capture stops at the quote (RE2-safe, shared verbatim with DuckDB)
IMG_SRC_RE = r"""(?i)<img[^>]*\ssrc\s*=\s*["']([^"']+)["']"""
#: srcset attribute on <img> or <picture><source>
SRCSET_RE = r"""(?i)<(?:img|source)[^>]*\ssrcset\s*=\s*["']([^"']+)["']"""
#: social-card image metas, both attribute orders (RE2 has no
#: lookaround, so the two orders are two alternations run separately)
OG_PROP_FIRST_RE = (
    r"""(?i)<meta[^>]*\s(?:property|name)\s*=\s*["']"""
    r"""(?:og:image|twitter:image)["'][^>]*\scontent\s*=\s*["']"""
    r"""([^"']+)["']"""
)
OG_CONTENT_FIRST_RE = (
    r"""(?i)<meta[^>]*\scontent\s*=\s*["']([^"']+)["'][^>]*"""
    r"""\s(?:property|name)\s*=\s*["'](?:og:image|twitter:image)["']"""
)


def _ws_trim(c):
    """Whitespace trim as a shared regexp (Spark trim() strips spaces
    only; srcset candidates carry newlines/tabs after the comma)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def _srcset_field(c, n):
    """nth whitespace-separated field of a srcset candidate (1-based;
    NULL past the end — try_element_at matches DuckDB's OOB-NULL list
    indexing under ANSI mode)."""
    return F.try_element_at(F.split(c, r"\s+"), F.lit(n))


def _srcset_wdesc(c):
    """Integer width descriptor of a candidate ('480w' -> 480; NULL for
    density ('2x') or missing descriptors)."""
    d = F.coalesce(_srcset_field(c, 2), F.lit(""))
    return F.nullif(F.regexp_extract(d, r"^(\d+)w$", 1), F.lit("")).cast(
        "int")


def extract_image_refs(
    pages: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
) -> DataFrame:
    """Every image reference on an HTML page — the crawl→image-corpus
    bridge feeding the payload branch (which image URLs are worth a
    GET). Three reference kinds, emit-per-occurrence (D3 semantics —
    the same URL twice on a page is two rows, no dedup):

    - ``src``: ``<img src=...>`` (the reference's E3 ``[src]`` walk
      restricted to images — `/root/reference/pkg/xcrawl3r/xcrawl3r.go:165-206`
      extracts every src; an image pipeline wants only renderable refs);
    - ``srcset``: every candidate of every ``srcset`` attribute on
      ``<img>``/``<source>``, with its descriptor parsed (``w_desc``
      int for '480w' width descriptors) and ``is_best`` marking the
      largest-width candidate per attribute (the rendition a
      fetch-the-best policy GETs; density-only srcsets fall back to the
      first candidate, the spec default);
    - ``og``: ``og:image`` / ``twitter:image`` social-card metas (both
      attribute orders).

    ``data:`` URIs are excluded (see inline_data_uris). Resolution to
    ``img_url`` is the NATIVE simplified resolver: absolute pass-through,
    scheme-relative (``//``), root-relative, and naive dir-concat for
    path-relative refs — no ``../`` normalization (documented divergence
    from the crawl kernel's urljoin; the crawl path keeps its Python
    kernel, this analytics path stays JVM-native).

    Scale posture: ONE scan, ONE explode of a per-row struct array built
    with nested higher-order functions — no UDF, no shuffle, whole-stage
    codegen end-to-end; safe at 10^10 pages. Output: (page_url, ref,
    ref_kind, descriptor, w_desc, is_best, img_url)."""
    page = F.col(url_col)
    body = F.col(body_col)

    def _structs(ref, kind, desc, wd, best):
        return F.struct(
            ref.alias("ref"), kind.alias("kind"), desc.alias("descriptor"),
            wd.cast("int").alias("w_desc"), best.alias("is_best"))

    srcs = F.transform(
        F.regexp_extract_all(body, F.lit(IMG_SRC_RE), F.lit(1)),
        lambda r: _structs(r, F.lit("src"), F.lit(""), F.lit(None),
                           F.lit(True)))
    ogs = F.transform(
        F.concat(
            F.regexp_extract_all(body, F.lit(OG_PROP_FIRST_RE), F.lit(1)),
            F.regexp_extract_all(
                body, F.lit(OG_CONTENT_FIRST_RE), F.lit(1))),
        lambda r: _structs(r, F.lit("og"), F.lit(""), F.lit(None),
                           F.lit(True)))

    def _srcset_structs(s):
        cands = F.filter(
            F.transform(F.split(s, ","), _ws_trim), lambda c: c != "")
        maxw = F.array_max(F.transform(cands, _srcset_wdesc))
        return F.transform(
            cands,
            lambda c: _structs(
                _srcset_field(c, 1), F.lit("srcset"),
                F.coalesce(_srcset_field(c, 2), F.lit("")),
                _srcset_wdesc(c),
                F.when(maxw.isNotNull(),
                       F.coalesce(_srcset_wdesc(c), F.lit(-1)) == maxw)
                .otherwise(c == F.try_element_at(cands, F.lit(1)))))

    srcset_refs = F.flatten(F.transform(
        F.regexp_extract_all(body, F.lit(SRCSET_RE), F.lit(1)),
        _srcset_structs))

    ref = F.col("r.ref")
    pg = F.col("page_url")
    origin = F.regexp_extract(pg, r"^(https?://[^/]+)", 1)
    img_url = (
        F.when(ref.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), ref)
        .when(ref.startswith("//"), F.concat(
            F.regexp_extract(pg, r"^(https?):", 1), F.lit(":"), ref))
        .when(ref.startswith("/"), F.concat(origin, ref))
        .otherwise(F.concat(
            F.regexp_replace(pg, r"[^/]*$", ""), ref)))
    return (
        pages
        .select(page.alias("page_url"),
                F.explode(F.concat(srcs, srcset_refs, ogs)).alias("r"))
        .where(~ref.startswith("data:"))
        .select(
            "page_url", ref.alias("ref"), F.col("r.kind").alias("ref_kind"),
            F.col("r.descriptor").alias("descriptor"),
            F.col("r.w_desc").alias("w_desc"),
            F.col("r.is_best").alias("is_best"),
            img_url.alias("img_url"),
        )
    )


#: inline base64 image payload: data:image/<fmt>;base64,<payload>. The
#: payload grammar admits only whole 4-char blocks plus one optional
#: padded tail block, so a captured match can NEVER fail base64 decode
#: (a truncated capture would otherwise error the whole task under ANSI)
DATA_URI_RE = (
    r"(?i)data:image/([a-z0-9.+-]+);base64,"
    r"((?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?)"
)


def inline_data_uris(
    pages: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
) -> DataFrame:
    """Inline base64 image payloads embedded in HTML (``data:image/...``
    URIs — small icons/placeholders inlined by bundlers and lazy-load
    shims). These are the one image class a crawl gets WITHOUT a GET, so
    an image pipeline inventories them separately from fetchable refs
    (extract_image_refs excludes them).

    Per occurrence: declared format (lowercased), exact decoded byte
    count (``unbase64`` — the strict payload grammar guarantees
    decodability), and an md5 identity over the base64 TEXT (DuckDB's
    md5 is varchar-only, so the twin hashes the same text; dedup
    equality is unaffected since base64 is injective).

    One scan, one explode, zero shuffle, whole-stage codegen; a
    downstream ``groupBy(payload_md5)`` dedups the (heavily repeated)
    placeholder pixels. Output: (page_url, fmt, n_bytes, payload_md5)."""
    page = F.col(url_col)
    matches = F.regexp_extract_all(
        F.col(body_col), F.lit(DATA_URI_RE), F.lit(0))
    m = F.col("m")
    payload = F.regexp_extract(m, DATA_URI_RE, 2)
    return (
        pages
        .select(page.alias("page_url"), F.explode(matches).alias("m"))
        .select(
            "page_url",
            F.lower(F.regexp_extract(m, DATA_URI_RE, 1)).alias("fmt"),
            F.length(F.unbase64(payload)).cast("long").alias("n_bytes"),
            F.md5(payload.cast("binary")).alias("payload_md5"),
        )
    )


def _with_partition_offset_index(sorted_df: DataFrame, col: str) -> DataFrame:
    """Contiguous global 0-based index over an ALREADY range-partitioned,
    partition-sorted frame — the scalable substitute for a global
    row_number window (which funnels every row of a partition key through
    one reducer). Two passes: a per-partition count (collects exactly
    n_partitions rows to the driver — bounded by config, not data), then
    an Arrow-batched pass adding offset+position. The input MUST be
    checkpointed first: range boundaries are sampled, so an
    un-materialized plan could re-sample between the two passes."""
    from pyspark.sql.types import LongType, StructField, StructType

    counts = {
        r["pid"]: r["count"]
        for r in sorted_df.groupBy(
            F.spark_partition_id().alias("pid")).count().collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    schema = StructType(
        list(sorted_df.schema.fields) + [StructField(col, LongType())])

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        base = offsets.get(tc.partitionId() if tc else -1, 0)
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[col] = np.arange(base + seen, base + seen + len(pdf),
                                 dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return sorted_df.mapInPandas(_gen, schema)


def ar_batch_assembly(
    images: DataFrame,
    batch_size: int,
    buckets: list[tuple[int, int]] | None = None,
    seed: str = "arb",
    drop_last: bool = True,
    two_phase: bool = False,
) -> DataFrame:
    """Deterministic training-batch assembly over aspect-ratio buckets —
    the loader-facing step after ar_bucketing: within each bucket,
    images take a seeded-hash shuffle order and pack into fixed-size
    batches (``batch_idx`` within bucket, ``pos_in_batch``); with
    ``drop_last`` the ragged final batch of each bucket is dropped
    (the training default — a partial batch changes the gradient scale).

    Both paths produce IDENTICAL rows (pytest-pinned):

    - default: one ``row_number`` window per bucket — correct everywhere,
      but ~25 bucket keys means ~25-way reducer parallelism: fine to
      ~10^8 rows/bucket, a funnel at 10^10;
    - ``two_phase=True``, the 100 TB path: range-repartition on
      (bucket, hash) + partition-local sort (DISK_ONLY checkpoint pins
      the sampled boundaries), then a contiguous global index from
      per-partition counts (driver collect bounded by the partition
      count) and per-bucket rank = global index − cumulative bucket base
      (a |buckets|-row literal map, no join). Parallelism = shuffle
      partitions, not bucket count.

    Output: (image_id, bucket_id, bucket_w, bucket_h, batch_idx,
    pos_in_batch)."""
    from pyspark import StorageLevel

    from xcrawl3r_spark.functions.hashing import seeded

    b = int(batch_size)
    bucketed = ar_bucketing(images, buckets).withColumn(
        "_h", seeded(F.col("image_id"), seed))
    if not two_phase:
        wseq = Window.partitionBy("bucket_id").orderBy("_h", "image_id")
        # same partitionBy AND orderBy as wseq (full frame) so both
        # aggregates ride ONE Window operator / ONE exchange
        wall = wseq.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = (
            bucketed
            .withColumn("_rn", F.row_number().over(wseq) - 1)
            .withColumn("_n", F.count("*").over(wall))
        )
    else:
        sorted_df = (
            bucketed.repartitionByRange("bucket_id", "_h", "image_id")
            .sortWithinPartitions("bucket_id", "_h", "image_id")
            .localCheckpoint(eager=True,
                             storageLevel=StorageLevel.DISK_ONLY)
        )
        indexed = _with_partition_offset_index(sorted_df, "_gidx")
        # global order starts with bucket_id, so each bucket's rows are a
        # contiguous index range; base/size per bucket from ONE tiny agg
        stats = {
            r["bucket_id"]: r["count"]
            for r in sorted_df.groupBy("bucket_id").count().collect()
        }
        bases, acc = {}, 0
        for bid in sorted(stats):
            bases[bid] = acc
            acc += stats[bid]
        base_map = F.create_map(
            *[F.lit(x) for bid in bases for x in (bid, bases[bid])])
        n_map = F.create_map(
            *[F.lit(x) for bid in stats for x in (bid, stats[bid])])
        ranked = indexed.withColumns({
            "_rn": F.col("_gidx") - base_map[F.col("bucket_id")],
            "_n": n_map[F.col("bucket_id")],
        })
    out = ranked
    if drop_last:
        out = out.where(
            F.col("_rn") < (F.expr(f"_n div {b}") * b))
    return out.select(
        "image_id", "bucket_id", "bucket_w", "bucket_h",
        F.expr(f"_rn div {b}").cast("long").alias("batch_idx"),
        (F.col("_rn") % b).cast("int").alias("pos_in_batch"),
    )


def caption_alignment_gate(
    pairs: DataFrame,
    img_col: str = "img_embedding",
    cap_col: str = "cap_embedding",
    threshold: float = 0.28,
) -> DataFrame:
    """CLIP-score-style image+caption alignment admission — the other
    half of the LAION filter set (Schuhmann et al. 2021/2022: drop pairs
    whose image/text embedding cosine is below ~0.28; caption_gate does
    the metadata rules, this does the semantic rule). The embeddings are
    inputs (produced upstream by a model-inference stage this engine
    treats as a column source), so the gate itself is pure arithmetic:
    cosine via the simsearch fold kernel, rounded to 6 dp per row BEFORE
    the threshold compare (the cross-engine float determinism rule — no
    cross-row float aggregation anywhere).

    Map-side projection, zero shuffle, whole-stage codegen. Output:
    (image_id, clip_score, passes)."""
    from xcrawl3r_spark.operators.simsearch import _vec_d, cosine_cols

    score = F.round(
        cosine_cols(_vec_d(img_col), _vec_d(cap_col)), 6)
    return pairs.select(
        "image_id",
        score.alias("clip_score"),
        (score >= threshold).alias("passes"),
    )


#: magic-byte hex prefixes, checked in order (first match wins); WEBP is
#: special-cased (RIFF container: bytes 0-3 'RIFF', 8-11 'WEBP')
IMAGE_MAGIC = (
    ("png", "89504E470D0A1A0A"),
    ("jpeg", "FFD8FF"),
    ("gif", "474946383761"),
    ("gif", "474946383961"),
    ("bmp", "424D"),
)


def sniff_col(bytes_col: str = "bytes") -> Column:
    """The magic-byte sniff as a reusable Column (see
    :func:`sniff_format` for semantics) — WEBP's RIFF container split
    first, then the IMAGE_MAGIC prefixes in order."""
    hexs = F.hex(F.substring(F.col(bytes_col), 1, 12))
    sniffed = F.when(
        hexs.startswith("52494646")
        & (F.substring(hexs, 17, 8) == "57454250"),
        "webp")
    for name, magic in IMAGE_MAGIC:
        sniffed = sniffed.when(hexs.startswith(magic), name)
    return sniffed.otherwise(F.lit(None).cast("string"))


def sniff_format(
    images: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Magic-byte format sniffing over the binary payload column — the
    content-type-lies check an image crawl runs before trusting any
    declared format (servers mislabel; a 'png' that is really HTML is
    the classic poisoned row). Only the first 12 payload bytes are
    hexed (`hex(substring(bytes, 1, 12))` — the scan never touches the
    payload tail), then prefix-matched against the PNG/JPEG/GIF87a/
    GIF89a/BMP magics and the RIFF....WEBP container split.

    Pure map-side projection, zero shuffle, whole-stage codegen, no
    UDF; NULL payloads sniff to NULL and fail the match like any
    mislabeled row. Output: (image_id, fmt, sniffed_fmt, fmt_ok)."""
    sniffed = sniff_col(bytes_col)
    return images.select(
        "image_id",
        F.col(fmt_col).alias("fmt"),
        sniffed.alias("sniffed_fmt"),
        F.coalesce(sniffed == F.col(fmt_col), F.lit(False))
        .alias("fmt_ok"),
    )


#: PNG signature + the IHDR chunk tag that must follow it (hex).
_PNG_SIG_HEX = "89504E470D0A1A0A"
_PNG_IHDR_HEX = "49484452"


def _hex_be(col: str, byte_pos: int, n: int) -> str:
    """SQL for the unsigned big-endian int at 1-based ``byte_pos`` of a
    hex-string column (2 hex chars per byte)."""
    return (f"cast(conv(substring({col}, {(byte_pos - 1) * 2 + 1}, "
            f"{n * 2}), 16, 10) as bigint)")


def _hex_le(col: str, byte_pos: int, n: int) -> str:
    """Same but little-endian: the ``n`` byte pairs reversed before the
    base-16 parse."""
    parts = ", ".join(
        f"substring({col}, {(byte_pos - 1 + i) * 2 + 1}, 2)"
        for i in reversed(range(n)))
    return f"cast(conv(concat({parts}), 16, 10) as bigint)"


def parse_header_dims(
    images: DataFrame,
    bytes_col: str = "bytes",
) -> DataFrame:
    """Width/height straight from the payload's container header, no
    decode — the cheap truth source an image crawl checks declared dims
    against before spending decode cycles (all layouts are public
    file-format specs):

    - PNG: 8-byte signature, then the IHDR chunk — width/height are
      big-endian uint32 at bytes 17-24;
    - GIF87a/89a: logical-screen width/height, little-endian uint16 at
      bytes 7-10;
    - BMP ('BM' + BITMAPINFOHEADER, the common case): width at bytes
      19-22, height at 23-26, little-endian int32 — height is SIGNED
      (negative = top-down row order) so it decodes two's-complement
      then abs;
    - WEBP: RIFF container, all three first-chunk codecs — VP8 lossy
      (sync-checked 14-bit LE dims), VP8L lossless (packed
      (w-1)|(h-1)<<14 LE32), VP8X extended (LE24 canvas-1).

    JPEG needs a marker walk, not a fixed offset — it parses to NULL
    here (use :func:`jpeg_sof_dims`), as do NULL/short payloads.

    Only the first 30 payload bytes are hexed; pure map-side
    projection, zero shuffle, no UDF — at 10^10 images this rides the
    scan. Appends (header_fmt, header_w, header_h, png_bit_depth,
    png_color_type) to the input columns — the last two are the IHDR
    bytes right after the dims (color type 3 = palette, the
    icon/clipart curation signal; PNG-only, NULL elsewhere)."""
    b = bytes_col
    hx = "_hx"
    png_ok = (f"(octet_length({b}) >= 24 "
              f"and substring({hx}, 1, 16) = '{_PNG_SIG_HEX}' "
              f"and substring({hx}, 25, 8) = '{_PNG_IHDR_HEX}')")
    gif_ok = (f"(octet_length({b}) >= 10 and substring({hx}, 1, 12) "
              "in ('474946383761', '474946383961'))")
    bmp_ok = (f"(octet_length({b}) >= 26 "
              f"and substring({hx}, 1, 4) = '424D')")
    bmp_h_raw = _hex_le(hx, 23, 4)
    bmp_h = (f"abs(case when {bmp_h_raw} >= 2147483648 "
             f"then {bmp_h_raw} - 4294967296 else {bmp_h_raw} end)")
    # WEBP (RIFF....WEBP + first chunk), per the public container and
    # VP8/VP8L/VP8X bitstream specs. All three codecs covered:
    # - VP8  (lossy): sync 9D 01 2A at payload+3, then two LE16s whose
    #   low 14 bits are the dims (% 16384 == & 0x3FFF);
    # - VP8L (lossless): 0x2F sig, then a packed LE32 carrying
    #   (w-1) | (h-1)<<14 — decoded with % / div (engine-neutral);
    # - VP8X (extended): LE24 canvas_w-1 / canvas_h-1.
    riff = (f"(octet_length({b}) >= 30 "
            f"and substring({hx}, 1, 8) = '52494646' "
            f"and substring({hx}, 17, 8) = '57454250')")
    cc = f"substring({hx}, 25, 8)"
    vp8_ok = (f"({riff} and {cc} = '56503820' "
              f"and substring({hx}, 47, 6) = '9D012A')")
    vp8l_ok = (f"({riff} and {cc} = '5650384C' "
               f"and substring({hx}, 41, 2) = '2F')")
    vp8x_ok = f"({riff} and {cc} = '56503858')"
    vp8l_bits = _hex_le(hx, 22, 4)
    return (
        images.withColumn(
            hx, F.hex(F.substring(F.col(b), 1, 30)))
        .withColumn(
            "header_fmt",
            F.expr(f"case when {png_ok} then 'png' "
                   f"when {gif_ok} then 'gif' "
                   f"when {bmp_ok} then 'bmp' "
                   f"when {vp8_ok} or {vp8l_ok} or {vp8x_ok} "
                   "then 'webp' end"))
        .withColumn(
            "header_w",
            F.expr(f"case when {png_ok} then {_hex_be(hx, 17, 4)} "
                   f"when {gif_ok} then {_hex_le(hx, 7, 2)} "
                   f"when {bmp_ok} then {_hex_le(hx, 19, 4)} "
                   f"when {vp8_ok} then {_hex_le(hx, 27, 2)} % 16384 "
                   f"when {vp8l_ok} then {vp8l_bits} % 16384 + 1 "
                   f"when {vp8x_ok} then {_hex_le(hx, 25, 3)} + 1 end"))
        .withColumn(
            "header_h",
            F.expr(f"case when {png_ok} then {_hex_be(hx, 21, 4)} "
                   f"when {gif_ok} then {_hex_le(hx, 9, 2)} "
                   f"when {bmp_ok} then {bmp_h} "
                   f"when {vp8_ok} then {_hex_le(hx, 29, 2)} % 16384 "
                   f"when {vp8l_ok} then "
                   f"({vp8l_bits} div 16384) % 16384 + 1 "
                   f"when {vp8x_ok} then {_hex_le(hx, 28, 3)} + 1 end"))
        # IHDR bytes 25-26: bit depth + color type (0 gray, 2 truecolor,
        # 3 PALETTE — the icon/clipart curation signal, 4/6 + alpha);
        # PNG-only, NULL elsewhere
        .withColumn(
            "png_bit_depth",
            F.expr(f"case when {png_ok} and octet_length({b}) >= 25 "
                   f"then {_hex_be(hx, 25, 1)} end"))
        .withColumn(
            "png_color_type",
            F.expr(f"case when {png_ok} and octet_length({b}) >= 26 "
                   f"then {_hex_be(hx, 26, 1)} end"))
        .drop(hx)
    )


def header_dims_gate(
    images: DataFrame,
    max_pixels: int = 1 << 28,
    bytes_col: str = "bytes",
) -> DataFrame:
    """Metadata-lies + decompression-bomb gate: compare the declared
    (w, h) columns against the container-header dims parsed by
    :func:`parse_header_dims` and emit one verdict per row, precedence
    first-match:

    - ``no_payload`` — NULL bytes (nothing to check);
    - ``unparsed`` — no fixed-offset header (JPEG/WEBP/garbage), dims
      unverifiable without a decode;
    - ``bomb`` — header pixel count exceeds ``max_pixels`` (the
      classic tiny-file/huge-canvas decode bomb: allocate-before-
      decode makes this the check that MUST precede any decode);
    - ``dims_mismatch`` — header dims disagree with the declared
      columns (stale or lying metadata; fires when EITHER declared
      side is present and wrong — a half-declared row with the
      present half mismatching is a real mismatch);
    - ``no_declaration`` — header parsed fine but declared w/h are
      (partly) NULL: nothing to confirm, so the row must NOT read
      ``ok`` (r4 ADVICE — the NULL comparison used to fall through);
    - ``ok`` — header confirms the declaration.

    Same zero-shuffle map-side posture as the parse. Output:
    (image_id, fmt, w, h, header_fmt, header_w, header_h, verdict)."""
    parsed = parse_header_dims(images, bytes_col=bytes_col)
    verdict = (
        F.when(F.col(bytes_col).isNull(), "no_payload")
        .when(F.col("header_fmt").isNull(), "unparsed")
        .when(F.col("header_w") * F.col("header_h") > int(max_pixels),
              "bomb")
        .when((F.col("header_w") != F.col("w").cast("long"))
              | (F.col("header_h") != F.col("h").cast("long")),
              "dims_mismatch")
        .when(F.col("w").isNull() | F.col("h").isNull(), "no_declaration")
        .otherwise("ok"))
    return parsed.select(
        "image_id", "fmt", "w", "h",
        "header_fmt", "header_w", "header_h",
        verdict.alias("verdict"))


def schedule_fetch_waves(
    plan: DataFrame,
    host_budget: int = 5,
    url_col: str = "fetch_url",
) -> DataFrame:
    """Politeness-scheduled GET waves over the distinct image fetch set
    (:func:`fetch_plan` output) — the crawl×image bridge: within each
    host, order by demand (``n_refs`` desc, then URL for determinism)
    and release at most ``host_budget`` GETs per crawl iteration —
    ``wave = (rank - 1) div budget`` — mirroring the frontier's A1
    per-host politeness window (reference default parallelism-per-host,
    internal/configuration/configuration.go:108).

    ONE shuffle (the host window). The rank can't use WindowGroupLimit
    (every row gets a wave; there's no top-k cut), so a hot CDN host
    serializes inside its partition — that skew IS the politeness
    semantic (a host's queue is sequential by definition); cross-host
    parallelism is what scales, and the wave column is exactly the
    iteration key the fetch loop then partitions on.

    Host is the lowercased netloc (try_parse_url HOST — no port, no
    userinfo); rows whose URL has no parseable host share the NULL
    bucket. Output: (host, canonical_url, fetch_url, n_refs,
    rank_in_host, wave)."""
    from xcrawl3r_spark.functions.urls import host_col

    w = Window.partitionBy("host").orderBy(F.desc("n_refs"), url_col)
    return (
        plan.withColumn("host", host_col(F.col(url_col)))
        .withColumn(
            "rank_in_host",
            F.row_number().over(w).cast("long"))
        .withColumn(
            "wave",
            F.expr(f"(rank_in_host - 1) div {int(host_budget)}")
            .cast("long"))
        .select("host", "canonical_url", url_col, "n_refs",
                "rank_in_host", "wave")
    )


def spark_hex2int(x: str) -> str:
    """Spark SQL hex-string -> bigint (conv is uppercase-safe)."""
    return f"cast(conv({x}, 16, 10) as bigint)"


def jpeg_walk_step_sql(p: str, hex2int=spark_hex2int,
                       hx: str = "hx") -> dict:
    """One step of the JPEG marker-segment walk as engine-neutral SQL
    over a hex-string column ``hx`` (segment grammar per ITU-T T.81:
    ``FF <marker> <len BE16> <payload of len-2>``; the SOF markers
    C0-CF minus C4/C8/CC carry ``precision(1) height(2) width(2)``
    right after the length field).

    ``p`` is the column/expression holding the 1-based byte position
    of the segment's FF byte. Returns the snippets a caller chains —
    Spark via per-step withColumn, DuckDB via per-step CTE — so the
    expression stays LINEAR in steps (inlining p recursively would
    blow up exponentially). Every hex2int is guarded by the length
    checks, so a walk that runs past the hexed window parses to NULL
    instead of erroring ('0x' || '' casts throw in DuckDB)."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    mk = at(2, 2)
    valid = (f"({p} is not null and 2 * {p} + 6 <= length({hx}) "
             f"and {at(0, 2)} = 'FF')")
    sof = (f"({valid} and 2 * {p} + 16 <= length({hx}) "
           f"and {mk} >= 'C0' and {mk} <= 'CF' "
           f"and {mk} not in ('C4', 'C8', 'CC'))")
    return {
        "sof": sof,
        "h": hex2int(at(10, 4)),
        "w": hex2int(at(14, 4)),
        "next": (f"case when {valid} and not {sof} "
                 f"then {p} + 2 + {hex2int(at(4, 4))} end"),
    }


def jpeg_sof_dims(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 1024,
    max_segments: int = 8,
) -> DataFrame:
    """JPEG width/height without a decode — the segment walk
    :func:`parse_header_dims` can't do with fixed offsets: start after
    SOI (FFD8), hop ``pos += 2 + len`` across APPn/DQT/COM segments,
    stop at the first SOF marker and read the BE16 dims beside it.

    The walk is UNROLLED ``max_segments`` times as chained column
    expressions (no UDF, no loop at runtime — whole-stage codegen
    sees a flat projection), and only the first ``scan_bytes`` payload
    bytes are hexed, so at 10^10 images the cost is one bounded
    map-side pass. A SOF deeper than the window or the segment budget
    parses to NULL — the declared-coverage semantic a crawl gate
    wants, not a guess. Non-JPEG and NULL payloads are NULL.

    Appends (jpeg_w, jpeg_h) to the input columns."""
    hx = "_jpx_hx"  # working column; prefixed to dodge user columns
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_jp0",
            F.expr(f"case when length({hx}) >= 4 "
                   f"and substring({hx}, 1, 4) = 'FFD8' "
                   "then cast(3 as bigint) end"))
        .withColumn("jpeg_w", F.lit(None).cast("long"))
        .withColumn("jpeg_h", F.lit(None).cast("long"))
    )
    for i in range(int(max_segments)):
        s = jpeg_walk_step_sql(f"_jp{i}", hx=hx)
        out = (
            out.withColumn(
                "jpeg_w",
                F.expr(f"coalesce(jpeg_w, case when {s['sof']} "
                       f"then {s['w']} end)"))
            .withColumn(
                "jpeg_h",
                F.expr(f"coalesce(jpeg_h, case when {s['sof']} "
                       f"then {s['h']} end)"))
            .withColumn(f"_jp{i + 1}", F.expr(s["next"]))
        )
    return out.drop(
        hx, *[f"_jp{i}" for i in range(int(max_segments) + 1)])


_EXIF_MAGIC_HEX = "457869660000"  # 'Exif\0\0'


def exif_seg_step_sql(p: str, hex2int=spark_hex2int,
                      hx: str = "hx") -> dict:
    """One step of the APP1-hunting segment walk (same T.81 grammar as
    :func:`jpeg_walk_step_sql`, different stop predicate: marker E1
    whose payload opens with 'Exif\\0\\0'). ``tiff`` is the 1-based
    byte position of the TIFF header ('II'/'MM') inside that
    segment — payload byte p+4 is 'E', so TIFF starts at p+10."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    valid = (f"({p} is not null and 2 * {p} + 6 <= length({hx}) "
             f"and {at(0, 2)} = 'FF')")
    is_exif = (f"({valid} and 2 * {p} + 20 <= length({hx}) "
               f"and {at(2, 2)} = 'E1' "
               f"and {at(8, 12)} = '{_EXIF_MAGIC_HEX}')")
    return {
        "is_exif": is_exif,
        "tiff": f"{p} + 10",
        "next": (f"case when {valid} and not {is_exif} "
                 f"then {p} + 2 + {hex2int(at(4, 4))} end"),
    }


def exif_bound_sql(pos: str, nbytes: int, hx: str = "hx") -> str:
    """True iff ``nbytes`` starting at 1-based byte ``pos`` lie inside
    the hexed window — every TIFF read is wrapped in this so an
    out-of-window offset parses NULL instead of erroring."""
    return (f"(({pos}) is not null "
            f"and 2 * (({pos}) + {nbytes} - 1) <= length({hx}))")


def exif_u16_sql(pos: str, endian: str, hex2int=spark_hex2int,
                 hx: str = "hx") -> str:
    """Endian-conditional uint16 at byte ``pos`` (``endian`` is the
    column holding '4949' for Intel little-endian / '4D4D' for
    Motorola big-endian, straight from the TIFF header)."""
    lo = f"substring({hx}, cast(2 * ({pos}) - 1 as int), 2)"
    hi = f"substring({hx}, cast(2 * ({pos}) + 1 as int), 2)"
    le = hex2int(f"concat({hi}, {lo})")
    be = hex2int(f"concat({lo}, {hi})")
    return (f"(case when not {exif_bound_sql(pos, 2, hx)} then null "
            f"when {endian} = '4949' then {le} else {be} end)")


def exif_u32_sql(pos: str, endian: str, hex2int=spark_hex2int,
                 hx: str = "hx") -> str:
    parts = [f"substring({hx}, cast(2 * ({pos}) - 1 + {2 * i} as int), 2)"
             for i in range(4)]
    le = hex2int(f"concat({', '.join(reversed(parts))})")
    be = hex2int(f"concat({', '.join(parts)})")
    return (f"(case when not {exif_bound_sql(pos, 4, hx)} then null "
            f"when {endian} = '4949' then {le} else {be} end)")


def exif_orientation(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 2048,
    max_segments: int = 6,
    max_entries: int = 12,
) -> DataFrame:
    """EXIF orientation (tag 0x0112, values 1-8) straight from the
    bytes, no decode — the flag that says whether stored pixel rows
    are rotated/mirrored relative to display orientation; a training
    pipeline that ignores it feeds transposed images to the model.
    Layout per the public EXIF/TIFF 6.0 specs: APP1 segment →
    'Exif\\0\\0' → TIFF header (byte order, magic 42, IFD0 offset) →
    IFD0 entry scan (12-byte entries: tag, type, count, value;
    SHORT values sit left-justified in the 4-byte value field).

    Both walks are UNROLLED (``max_segments`` marker hops, then
    ``max_entries`` IFD entries) as flat guarded column expressions —
    no UDF, whole-stage codegen, zero shuffle; both byte orders
    ('II'/'MM') handled by endian-conditional reads. Anything absent,
    truncated, or past a budget parses to NULL.

    Appends (exif_orientation, needs_transpose) to the input —
    needs_transpose is true for orientations 5-8 (the four values
    that swap width and height on display)."""
    hx = "_exf_hx"
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_exf0",
            F.expr(f"case when length({hx}) >= 4 "
                   f"and substring({hx}, 1, 4) = 'FFD8' "
                   "then cast(3 as bigint) end"))
        .withColumn("_exf_tiff", F.lit(None).cast("long"))
    )
    for i in range(int(max_segments)):
        s = exif_seg_step_sql(f"_exf{i}", hx=hx)
        out = (
            out.withColumn(
                "_exf_tiff",
                F.expr(f"coalesce(_exf_tiff, case when {s['is_exif']} "
                       f"then cast({s['tiff']} as bigint) end)"))
            .withColumn(f"_exf{i + 1}",
                        F.expr(f"cast({s['next']} as bigint)"))
        )
    end = "_exf_end"
    u16 = lambda pos: exif_u16_sql(pos, end, hx=hx)
    u32 = lambda pos: exif_u32_sql(pos, end, hx=hx)
    out = (
        out.withColumn(
            end,
            F.expr(f"case when {exif_bound_sql('_exf_tiff', 4, hx)} "
                   f"and substring({hx}, cast(2 * _exf_tiff - 1 as int),"
                   " 4) in ('4949', '4D4D') "
                   f"then substring({hx}, "
                   "cast(2 * _exf_tiff - 1 as int), 4) end"))
        .withColumn(
            "_exf_ifd",
            F.expr(f"case when {u16('_exf_tiff + 2')} = 42 "
                   f"then _exf_tiff + {u32('_exf_tiff + 4')} end")
            .cast("long"))
        .withColumn("_exf_n", F.expr(u16("_exf_ifd")).cast("long"))
        .withColumn("exif_orientation", F.lit(None).cast("long"))
    )
    for j in range(int(max_entries)):
        entry = f"(_exf_ifd + {2 + 12 * j})"
        out = out.withColumn(
            "exif_orientation",
            F.expr(f"coalesce(exif_orientation, "
                   f"case when _exf_n is not null and {j} < _exf_n "
                   f"and {u16(entry)} = 274 "
                   f"then {u16(f'({entry} + 8)')} end)"))
    return (
        out.withColumn(
            "needs_transpose",
            F.expr("case when exif_orientation is null then null "
                   "else exif_orientation >= 5 end"))
        .drop(hx, end, "_exf_tiff", "_exf_ifd", "_exf_n",
              *[f"_exf{i}" for i in range(int(max_segments) + 1)])
    )


def display_dims(
    images: DataFrame,
    bytes_col: str = "bytes",
    jpeg_segments: int = 6,
    exif_segments: int = 4,
    exif_entries: int = 8,
) -> DataFrame:
    """Display-space dims from raw JPEG bytes: compose
    :func:`jpeg_sof_dims` (stored pixel grid) with
    :func:`exif_orientation` (rotation flag) and swap width/height
    when the orientation says the stored rows are transposed (5-8).
    This is THE number an AR-bucketing / resize stage must use — SDXL
    bucketing on stored dims puts every portrait phone photo (stored
    landscape + orientation 6) in the wrong bucket.

    Both parses are row-wise over the same payload, so the composite
    is still one zero-shuffle map-side projection. An image with dims
    but no EXIF keeps its stored dims (orientation absent = upright
    by convention); no dims at all stays NULL.

    The composite runs with REDUCED budgets (6 JPEG hops, 4 EXIF
    hops, 8 IFD entries) by default: the fully-fused stage at both
    walks' standalone budgets (8 + 6/12) generates a projection method
    past janino's 64 KB whole-stage-codegen limit and Spark silently
    drops the stage to interpreted execution (measured via noop-write
    + 'disabled for plan' log scan; 6/4/8 compiles even with an extra
    upstream projection fused in). Little is lost: the EXIF APP1 is
    the FIRST segment after SOI by spec convention, tags ascend so
    0x0112 Orientation sits within the first few entries, and a SOF
    deeper than 6 segments is rare — raise the budgets only where the
    corpus proves otherwise, and expect that stage to run interpreted.

    Appends (jpeg_w, jpeg_h, exif_orientation, needs_transpose,
    display_w, display_h)."""
    out = exif_orientation(
        jpeg_sof_dims(images, bytes_col=bytes_col,
                      max_segments=jpeg_segments),
        bytes_col=bytes_col, max_segments=exif_segments,
        max_entries=exif_entries)
    swap = F.coalesce(F.col("needs_transpose"), F.lit(False))
    return (
        out.withColumn(
            "display_w",
            F.when(swap, F.col("jpeg_h")).otherwise(F.col("jpeg_w")))
        .withColumn(
            "display_h",
            F.when(swap, F.col("jpeg_w")).otherwise(F.col("jpeg_h")))
    )


#: std luminance quant table's first 8 values in DQT (zigzag) order —
#: ITU-T T.81 Annex K.1 / libjpeg jpeg_add_quant_table's basic table
DQT_ZIGZAG_BASE8 = (16, 11, 12, 14, 12, 10, 16, 14)


def jpeg_dqt_step_sql(p: str, n_coeffs: int = 8,
                      hex2int=spark_hex2int, hx: str = "hx") -> dict:
    """One step of the DQT-seeking JPEG segment walk (same T.81 marker
    grammar as :func:`jpeg_walk_step_sql`, stop predicate marker DB
    with an 8-bit-precision table — Pq/Tq high nibble 0 — and the
    first ``n_coeffs`` zigzag quant values inside the hexed window).
    Byte layout from the segment's FF at 1-based ``p``: len at p+2,
    Pq/Tq at p+4, values from p+5."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    mk = at(2, 2)
    valid = (f"({p} is not null and 2 * {p} + 6 <= length({hx}) "
             f"and {at(0, 2)} = 'FF')")
    is_dqt = (f"({valid} and {mk} = 'DB' "
              f"and 2 * {p} + 8 + 2 * {int(n_coeffs)} <= length({hx}))")
    return {
        "is_dqt": is_dqt,
        # SOS: entropy-coded data follows, no further DQT possible —
        # the only marker that makes "no DQT" definitive (T.81 allows
        # DQT between SOF and SOS, so SOF is NOT a stop)
        "is_sos": f"({valid} and {mk} = 'DA')",
        "pq8": f"({at(8, 2)} < '10')",  # high nibble 0 = 8-bit values
        "q": [hex2int(at(10 + 2 * i, 2)) for i in range(int(n_coeffs))],
        "next": (f"case when {valid} and not {is_dqt} "
                 f"and not {at(2, 2)} = 'DA' "
                 f"then {p} + 2 + {hex2int(at(4, 4))} end"),
    }


def dqt_quality_sql(sum_q: str, idiv: str = "div",
                    n_coeffs: int = 8) -> dict:
    """Engine-neutral integer inversion of libjpeg's public
    jpeg_quality_scaling (quality -> scale S = Q<50 ? 5000/Q : 200-2Q;
    table value q_i = clamp((base_i*S+50)/100, 1, 255)): estimate
    S from the sum of the first ``n_coeffs`` zigzag values against the
    standard luminance base table, then map S back to quality. All
    arithmetic is positive-integer division (``idiv`` is 'div' on
    Spark, '//' on DuckDB — identical for non-negatives), so both
    engines produce bit-identical estimates; accumulated per-value
    floor error bounds the estimate within ~±2 quality points
    mid-range (pytest-pinned against the forward formula). A valid
    8-bit table (every q_i in 1..255) gives S 7..1942 over the 8-value
    base (sum 105), so quality 2..96; S <= 0 only for an all-zero
    table, invalid per T.81, which estimates NULL."""
    sum_base = sum(DQT_ZIGZAG_BASE8[:int(n_coeffs)])
    s_est = f"((100 * ({sum_q})) {idiv} {sum_base})"
    return {
        "scale_est": s_est,
        "quality_est": (
            f"(case when {s_est} <= 0 then null "
            f"when {s_est} >= 100 then 5000 {idiv} {s_est} "
            f"else (200 - {s_est}) {idiv} 2 end)"),
    }


def jpeg_quality_estimate(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 1024,
    max_segments: int = 8,
    n_coeffs: int = 8,
) -> DataFrame:
    """Encoder quality estimate straight from the first DQT segment's
    bytes — no decode: walk the T.81 marker segments to the first DQT
    (quantization tables sit before SOF/SOS, so the walk is as bounded
    as :func:`jpeg_sof_dims`), read the first ``n_coeffs`` quant values
    of the 8-bit luminance table, and invert libjpeg's quality scaling
    against the standard base table. High quant values = coarse
    quantization = low encoder quality — THE curation signal for
    dropping over-compressed crawl images that phash/dims gates miss
    (a 64x64-upscaled thumbnail passes a dims gate; its q95 DQT does
    not survive a re-encode at q30).

    Unrolled like every byte parser here: flat guarded column
    expressions, zero UDF, zero shuffle, whole-stage codegen. Outputs:
    dqt_present (true = DQT seen; false = SOS reached with no DQT, the
    only definitive negative; NULL = non-JPEG / window or budget
    exhausted), dqt_sum (sum of the first ``n_coeffs`` zigzag values,
    NULL for 16-bit-precision tables), and jpeg_quality_est (2-96 for
    a valid 8-bit table, see :func:`dqt_quality_sql`; NULL when no
    8-bit table parsed or the table is all zero)."""
    hx = "_jq_hx"
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_jq0",
            F.expr(f"case when length({hx}) >= 4 "
                   f"and substring({hx}, 1, 4) = 'FFD8' "
                   "then cast(3 as bigint) end"))
        .withColumn("_jq_pq8", F.lit(None).cast("boolean"))
        .withColumn("_jq_sos", F.lit(False))
        .withColumn("dqt_sum", F.lit(None).cast("long"))
    )
    for i in range(int(max_segments)):
        s = jpeg_dqt_step_sql(f"_jq{i}", n_coeffs=n_coeffs, hx=hx)
        q_sum = " + ".join(f"({q})" for q in s["q"])
        out = (
            out.withColumn(
                "_jq_pq8",
                F.expr(f"coalesce(_jq_pq8, case when {s['is_dqt']} "
                       f"then {s['pq8']} end)"))
            .withColumn("_jq_sos",
                        F.expr(f"_jq_sos or coalesce({s['is_sos']}, "
                               "false)"))
            .withColumn(
                "dqt_sum",
                F.expr(f"coalesce(dqt_sum, case when {s['is_dqt']} "
                       f"and {s['pq8']} then {q_sum} end)"))
            .withColumn(f"_jq{i + 1}", F.expr(s["next"]))
        )
    qual = dqt_quality_sql("dqt_sum", idiv="div", n_coeffs=n_coeffs)
    return (
        out.withColumn(
            "dqt_present",
            # true = DQT seen (any precision); false = SOS reached
            # first, so no DQT can follow (definitive); NULL = not a
            # JPEG, window end, or segment budget exhausted (unknown)
            F.expr("case when _jq_pq8 is not null then true "
                   "when _jq_sos then false end"))
        .withColumn(
            "jpeg_quality_est",
            F.expr(f"case when dqt_sum is not null "
                   f"then {qual['quality_est']} end").cast("long"))
        .drop(hx, "_jq_pq8", "_jq_sos",
              *[f"_jq{i}" for i in range(int(max_segments) + 1)])
    )


#: SOF markers that mean progressive DCT (T.81 Table B.1: C2 huffman /
#: C6 differential / CA arithmetic / CE differential arithmetic)
_PROGRESSIVE_SOF = (0xC2, 0xC6, 0xCA, 0xCE)
_ICC_TAG_HEX = "4943435F50524F46494C4500"  # 'ICC_PROFILE\0'


def jpeg_profile_step_sql(p: str, hex2int=spark_hex2int,
                          hx: str = "hx") -> dict:
    """One step of the profile-reading JPEG segment walk (T.81 marker
    grammar as in :func:`jpeg_walk_step_sql`): stops at the first SOF
    and reads its marker byte + component count (byte p+9 — after
    precision and the two dims), and flags APP2 segments whose payload
    opens with 'ICC_PROFILE\\0' on the way past."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    mk = at(2, 2)
    valid = (f"({p} is not null and 2 * {p} + 6 <= length({hx}) "
             f"and {at(0, 2)} = 'FF')")
    sof = (f"({valid} and 2 * {p} + 20 <= length({hx}) "
           f"and {mk} >= 'C0' and {mk} <= 'CF' "
           f"and {mk} not in ('C4', 'C8', 'CC'))")
    icc = (f"({valid} and 2 * {p} + 32 <= length({hx}) "
           f"and {mk} = 'E2' and {at(8, 24)} = '{_ICC_TAG_HEX}')")
    return {
        "sof": sof,
        "marker": hex2int(mk),
        "h": hex2int(at(10, 4)),
        "w": hex2int(at(14, 4)),
        "ncomp": hex2int(at(18, 2)),
        "icc": icc,
        "next": (f"case when {valid} and not {sof} "
                 f"then {p} + 2 + {hex2int(at(4, 4))} end"),
    }


def jpeg_profile(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 2048,
    max_segments: int = 8,
) -> DataFrame:
    """Decode-cost and color-pipeline profile straight from the marker
    stream, no decode: progressive-vs-baseline (a progressive JPEG
    costs multiple passes and buffers the full image — a batch decode
    tier wants them scheduled apart), component count (1 = grayscale,
    3 = YCbCr, 4 = CMYK/Adobe — grayscale and CMYK rows need their own
    preprocessing branch or a drop), and ICC APP2 presence (the
    color-managed-source flag, JPEG counterpart of the PNG iCCP
    signal).

    One unrolled segment walk (zero UDF, zero shuffle): APP2 ICC flags
    are collected on the way, the walk stops at the first SOF and
    reads its marker + dims + component count. has_icc is three-valued:
    true when seen, false only when the walk REACHED a SOF without one
    (APPn segments precede SOF, so that is definitive), NULL when the
    walk died early or the budget/window ran out.

    decode_cost_est = w * h * n_components, doubled for progressive
    (multiple passes over a fully-buffered image) — the documented
    integer heuristic a decode tier batches and budgets by (pixels x
    planes x passes ~ IDCT work; exact constants don't matter for
    RELATIVE scheduling, determinism does). Appends (sof_marker,
    is_progressive, sof_w, sof_h, n_components, color_mode, has_icc,
    decode_cost_est)."""
    hx = "_jpf_hx"
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_jpf0",
            F.expr(f"case when length({hx}) >= 4 "
                   f"and substring({hx}, 1, 4) = 'FFD8' "
                   "then cast(3 as bigint) end"))
        .withColumn("sof_marker", F.lit(None).cast("long"))
        .withColumn("sof_w", F.lit(None).cast("long"))
        .withColumn("sof_h", F.lit(None).cast("long"))
        .withColumn("n_components", F.lit(None).cast("long"))
        .withColumn("_jpf_icc", F.lit(False))
    )
    for i in range(int(max_segments)):
        s = jpeg_profile_step_sql(f"_jpf{i}", hx=hx)
        out = (
            out.withColumn(
                "sof_marker",
                F.expr(f"coalesce(sof_marker, case when {s['sof']} "
                       f"then {s['marker']} end)"))
            .withColumn(
                "sof_w",
                F.expr(f"coalesce(sof_w, case when {s['sof']} "
                       f"then {s['w']} end)"))
            .withColumn(
                "sof_h",
                F.expr(f"coalesce(sof_h, case when {s['sof']} "
                       f"then {s['h']} end)"))
            .withColumn(
                "n_components",
                F.expr(f"coalesce(n_components, case when {s['sof']} "
                       f"then {s['ncomp']} end)"))
            .withColumn(
                "_jpf_icc",
                F.expr(f"_jpf_icc or coalesce({s['icc']}, false)"))
            .withColumn(f"_jpf{i + 1}", F.expr(s["next"]))
        )
    prog = ", ".join(str(m) for m in _PROGRESSIVE_SOF)
    return (
        out.withColumn(
            "is_progressive",
            F.expr(f"case when sof_marker is not null "
                   f"then sof_marker in ({prog}) end"))
        .withColumn(
            "decode_cost_est",
            F.expr(f"case when sof_marker is not null then "
                   f"sof_w * sof_h * n_components * "
                   f"(case when sof_marker in ({prog}) then 2 "
                   "else 1 end) end").cast("long"))
        .withColumn(
            "color_mode",
            F.expr("case n_components when 1 then 'gray' "
                   "when 3 then 'ycbcr' when 4 then 'cmyk' "
                   "else case when n_components is not null "
                   "then 'other' end end"))
        .withColumn(
            "has_icc",
            F.expr("case when _jpf_icc then true "
                   "when sof_marker is not null then false end"))
        .drop(hx, "_jpf_icc",
              *[f"_jpf{i}" for i in range(int(max_segments) + 1)])
    )


def exif_gps(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 2048,
    max_segments: int = 6,
    # 10, not orientation's 12: the GPS scan's per-entry u32 value read
    # is twice the width of orientation's u16, and 12 entries push the
    # stage past janino's 64 KB whole-stage-codegen method limit even
    # standalone (measured via noop-write + 'disabled for plan' log
    # scan, the r4 display_dims technique); 10 compiles standalone AND
    # fused with an upstream synthesis projection
    max_entries: int = 10,
) -> DataFrame:
    """GPS-metadata presence straight from the EXIF bytes — the
    privacy gate a training-data pipeline must run BEFORE payloads
    leave the ingest tier: a GPSInfo IFD pointer (IFD0 tag 0x8825,
    EXIF 2.3 §4.6.6) means the image carries location coordinates and
    must be routed to strip/quarantine, not packed into shards.

    Same two unrolled walks as :func:`exif_orientation` (APP1 hunt,
    then IFD0 entry scan; kept standalone rather than fused into it so
    that green oracle-pinned operator stays untouched) — zero UDF,
    zero shuffle, both byte orders. Semantics are three-valued the way
    an honest budgeted scan must be: has_gps true when the tag was
    found; false only when the ENTIRE IFD0 was scanned (entry count
    <= ``max_entries``) without finding it; NULL when there is no
    parseable EXIF/TIFF or the entry budget truncated the scan
    (unknown != clean for a privacy gate). Appends (has_gps,
    gps_ifd_offset)."""
    hx = "_gps_hx"
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_gps0",
            F.expr(f"case when length({hx}) >= 4 "
                   f"and substring({hx}, 1, 4) = 'FFD8' "
                   "then cast(3 as bigint) end"))
        .withColumn("_gps_tiff", F.lit(None).cast("long"))
    )
    for i in range(int(max_segments)):
        s = exif_seg_step_sql(f"_gps{i}", hx=hx)
        out = (
            out.withColumn(
                "_gps_tiff",
                F.expr(f"coalesce(_gps_tiff, case when {s['is_exif']} "
                       f"then cast({s['tiff']} as bigint) end)"))
            .withColumn(f"_gps{i + 1}",
                        F.expr(f"cast({s['next']} as bigint)"))
        )
    end = "_gps_end"
    u16 = lambda pos: exif_u16_sql(pos, end, hx=hx)
    u32 = lambda pos: exif_u32_sql(pos, end, hx=hx)
    out = (
        out.withColumn(
            end,
            F.expr(f"case when {exif_bound_sql('_gps_tiff', 4, hx)} "
                   f"and substring({hx}, cast(2 * _gps_tiff - 1 as int),"
                   " 4) in ('4949', '4D4D') "
                   f"then substring({hx}, "
                   "cast(2 * _gps_tiff - 1 as int), 4) end"))
        .withColumn(
            "_gps_ifd",
            F.expr(f"case when {u16('_gps_tiff + 2')} = 42 "
                   f"then _gps_tiff + {u32('_gps_tiff + 4')} end")
            .cast("long"))
        .withColumn("_gps_n", F.expr(u16("_gps_ifd")).cast("long"))
        .withColumn("gps_ifd_offset", F.lit(None).cast("long"))
    )
    for j in range(int(max_entries)):
        entry = f"(_gps_ifd + {2 + 12 * j})"
        out = out.withColumn(
            "gps_ifd_offset",
            F.expr(f"coalesce(gps_ifd_offset, "
                   f"case when _gps_n is not null and {j} < _gps_n "
                   f"and {u16(entry)} = 34853 "
                   f"then {u32(f'({entry} + 8)')} end)").cast("long"))
    return (
        out.withColumn(
            "has_gps",
            F.expr(f"case when gps_ifd_offset is not null then true "
                   f"when _gps_n is not null "
                   f"and _gps_n <= {int(max_entries)} then false end"))
        .drop(hx, end, "_gps_tiff", "_gps_ifd", "_gps_n",
              *[f"_gps{i}" for i in range(int(max_segments) + 1)])
    )


def tiff_dims(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 2048,
    max_entries: int = 8,
) -> DataFrame:
    """Width/height for bare TIFF payloads — the container
    :func:`parse_header_dims` (fixed offsets) and :func:`jpeg_sof_dims`
    (marker walk) don't cover, yet scanners/cameras upload constantly.
    Layout per the public TIFF 6.0 spec: 'II'/'MM' byte order + magic
    42 + IFD0 offset, then an entry scan for ImageWidth (256) and
    ImageLength (257), each typed SHORT (3 → u16 at the value slot) or
    LONG (4 → u32) — both types occur in the wild and both byte orders
    are handled by the same endian-conditional reads the EXIF walk
    uses (the TIFF header here sits at byte 1, not inside an APP1).

    Unrolled ``max_entries`` entries (default 8 — two coalesce chains
    with type-conditional reads are ~2x the GPS scan's per-entry width,
    and 8 stays inside the janino whole-stage-codegen budget; width and
    length are tags 256/257, almost always the FIRST two entries, so
    the budget is generous). Zero UDF, zero shuffle. Appends (is_tiff,
    tiff_w, tiff_h) — dims NULL when absent, untyped, or past the
    budget/window."""
    hx = "_tif_hx"
    ihx = "_tif_ihx"
    end = "_tif_end"
    u16 = lambda pos: exif_u16_sql(pos, end, hx=hx)
    u32 = lambda pos: exif_u32_sql(pos, end, hx=hx)
    # all IFD reads go through a SLICED hex column starting at the IFD,
    # so every position is a CONSTANT catalyst folds at plan time —
    # per-read `(_ifd + k) * 2` column arithmetic made the fused stage
    # blow janino's 64 KB whole-stage-codegen limit even at reduced
    # entry budgets; with constant positions 8 entries compile fused
    iu16 = lambda bp: exif_u16_sql(str(bp), end, hx=ihx)
    iu32 = lambda bp: exif_u32_sql(str(bp), end, hx=ihx)
    span = 2 * (2 + 12 * int(max_entries))
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            end,
            F.expr(f"case when length({hx}) >= 8 "
                   f"and substring({hx}, 1, 4) in ('4949', '4D4D') "
                   f"then substring({hx}, 1, 4) end"))
        .withColumn(
            "_tif_ifd",
            F.expr(f"case when {u16('3')} = 42 "
                   f"then 1 + {u32('5')} end").cast("long"))
        .withColumn(
            ihx,
            F.expr(f"substring({hx}, cast(2 * _tif_ifd - 1 as int), "
                   f"{span})"))
        .withColumn("_tif_n", F.expr(iu16(1)).cast("long"))
    )
    w_arms, h_arms = [], []
    for j in range(int(max_entries)):
        base = 3 + 12 * j  # entry j's first byte within the IFD slice
        guard = f"_tif_n is not null and {j} < _tif_n"
        val = (f"(case {iu16(base + 2)} "
               f"when 3 then {iu16(base + 8)} "
               f"when 4 then {iu32(base + 8)} end)")
        w_arms.append(f"case when {guard} and {iu16(base)} = 256 "
                      f"then {val} end")
        h_arms.append(f"case when {guard} and {iu16(base)} = 257 "
                      f"then {val} end")
    return (
        out.withColumn(
            "tiff_w",
            F.expr(f"coalesce({', '.join(w_arms)})").cast("long"))
        .withColumn(
            "tiff_h",
            F.expr(f"coalesce({', '.join(h_arms)})").cast("long"))
        .withColumn("is_tiff", F.expr(f"{end} is not null"))
        .drop(hx, ihx, end, "_tif_ifd", "_tif_n")
    )


def png_chunk_step_sql(p: str, hex2int=spark_hex2int,
                       hx: str = "hx") -> dict:
    """One step of the PNG chunk walk as engine-neutral SQL over a
    hex-string column (chunk grammar per the PNG spec: ``length BE32 +
    type(4) + data + CRC32`` → hop = 12 + length). Returns the
    snippets for the three curation signals: pHYs (physical pixel
    density: x/y pixels-per-unit BE32 + unit byte), acTL (the APNG
    animation control chunk: frame count BE32 — its presence IS the
    animated flag), and iCCP presence. All reads are length-guarded
    like the EXIF walk (see :func:`exif_bound_sql`)."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    valid = f"({exif_bound_sql(p, 8, hx)})"
    typ = at(8, 8)  # chunk type, bytes p+4..p+7
    return {
        "valid": valid,
        "is_phys": f"({valid} and {typ} = '70485973' "
                   f"and {exif_bound_sql(p, 17, hx)})",
        "is_actl": f"({valid} and {typ} = '6163544C' "
                   f"and {exif_bound_sql(p, 12, hx)})",
        "is_iccp": f"({valid} and {typ} = '69434350')",
        "is_idat": f"({valid} and {typ} = '49444154')",
        "phys_x": hex2int(at(16, 8)),
        "phys_y": hex2int(at(24, 8)),
        "phys_unit": hex2int(at(32, 2)),
        "actl_frames": hex2int(at(16, 8)),
        "next": (f"case when {valid} and not ({valid} "
                 f"and {typ} = '49444154') "
                 f"then {p} + 12 + {hex2int(at(0, 8))} end"),
    }


def png_chunk_scan(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 512,
    max_chunks: int = 6,
) -> DataFrame:
    """PNG metadata curation signals without a decode, via the chunk
    walk (every ancillary chunk that matters sits BEFORE the first
    IDAT by spec, so the walk stops there):

    - ``phys_x_ppu/phys_y_ppu/phys_unit`` — the pHYs physical density
      (unit 1 = per metre; 2835 ppm ≈ 72 DPI): screenshots and print
      scans separate on this;
    - ``apng_frames`` — acTL frame count; non-NULL means ANIMATED
      (APNG), which an image-training pipeline excludes or
      frame-samples rather than feeding as a still;
    - ``has_icc`` — iCCP profile presence (color-managed source).

    Unrolled ``max_chunks`` hops over the first ``scan_bytes`` bytes,
    guarded, zero shuffle, no UDF — same posture as the JPEG/EXIF
    walks; signals deeper than the window or budget read NULL/false.

    Appends (phys_x_ppu, phys_y_ppu, phys_unit, apng_frames,
    has_icc)."""
    hx = "_pngx_hx"
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_png0",
            F.expr(f"case when length({hx}) >= 16 "
                   f"and substring({hx}, 1, 16) = '{_PNG_SIG_HEX}' "
                   "then cast(9 as bigint) end"))
        .withColumn("phys_x_ppu", F.lit(None).cast("long"))
        .withColumn("phys_y_ppu", F.lit(None).cast("long"))
        .withColumn("phys_unit", F.lit(None).cast("long"))
        .withColumn("apng_frames", F.lit(None).cast("long"))
        .withColumn("_png_icc", F.lit(False))
    )
    for i in range(int(max_chunks)):
        s = png_chunk_step_sql(f"_png{i}", hx=hx)
        out = (
            out.withColumn(
                "phys_x_ppu",
                F.expr(f"coalesce(phys_x_ppu, case when {s['is_phys']} "
                       f"then {s['phys_x']} end)"))
            .withColumn(
                "phys_y_ppu",
                F.expr(f"coalesce(phys_y_ppu, case when {s['is_phys']} "
                       f"then {s['phys_y']} end)"))
            .withColumn(
                "phys_unit",
                F.expr(f"coalesce(phys_unit, case when {s['is_phys']} "
                       f"then {s['phys_unit']} end)"))
            .withColumn(
                "apng_frames",
                F.expr(f"coalesce(apng_frames, case when {s['is_actl']} "
                       f"then {s['actl_frames']} end)"))
            .withColumn(
                "_png_icc",
                F.expr(f"_png_icc or coalesce({s['is_iccp']}, false)"))
            .withColumn(f"_png{i + 1}",
                        F.expr(f"cast({s['next']} as bigint)"))
        )
    return (
        out.withColumn(
            "has_icc",
            F.expr("case when _png0 is not null then _png_icc end"))
        .drop(hx, "_png_icc",
              *[f"_png{i}" for i in range(int(max_chunks) + 1)])
    )


def gif_start_sql(hex2int=spark_hex2int, hx: str = "hx") -> dict:
    """Start state of the bounded GIF block walk. Layout per the GIF89a
    spec: 6-byte signature + logical screen descriptor; the packed
    byte at offset 10 carries the global-color-table flag (bit 7) and
    size exponent (bits 0-2, table = 3 * 2^(n+1) bytes — resolved
    with a constant case, no engine-specific shifts). ``start`` is
    the 1-based byte position of the first block after the optional
    table."""
    pk = hex2int(f"substring({hx}, 21, 2)")
    sizes = ("case " + " ".join(
        f"when {pk} % 8 = {n} then {3 * 2 ** (n + 1)}"
        for n in range(8)) + " end")
    return {
        "is_gif": (f"(length({hx}) >= 26 and substring({hx}, 1, 12) "
                   "in ('474946383761', '474946383961'))"),
        "start": f"(case when {pk} >= 128 then 14 + ({sizes}) else 14 end)",
    }


def gif_walk_step_sql(p: str, sub: str, hex2int=spark_hex2int,
                      hx: str = "hx") -> dict:
    """One step of the bounded GIF block walk hunting the
    NETSCAPE2.0/ANIMEXTS1.0 loop extension (r4 ADVICE: an animated GIF
    whose stream opens with a graphic-control (21 F9) or comment
    (21 FE) block probed false under the old single fixed-position
    check).

    Walk state: ``p`` = 1-based byte position (NULL = walk over),
    ``sub`` = boolean, true when ``p`` points at a sub-block LENGTH
    byte inside an extension being skipped, false when it points at a
    block introducer. Per the GIF89a grammar every extension is
    ``21 <label>`` followed by length-prefixed sub-blocks terminated
    by a 00 byte, so ONE generic skip rule covers graphic-control,
    comment, plain-text, and foreign application extensions alike.
    The walk stops at the loop-extension hit, the first image
    descriptor (2C — frames reached, no loop ext: still image),
    the trailer (3B), a malformed byte, or the window edge."""
    at = (lambda off, n:
          f"substring({hx}, cast(2 * {p} - 1 + {off} as int), {n})")
    valid = exif_bound_sql(p, 1, hx)
    netscape = (f"({valid} and not {sub} and {exif_bound_sql(p, 19, hx)} "
                f"and {at(0, 6)} = '21FF0B' and {at(6, 22)} in "
                "('4E45545343415045322E30', '414E494D45585453312E30'))")
    sub_len = hex2int(at(0, 2))
    is_ext = (f"({valid} and not {sub} and {exif_bound_sql(p, 2, hx)} "
              f"and {at(0, 2)} = '21')")
    return {
        "netscape": netscape,
        # 21 FF 0B (3) + app id (11) + sub len (1) + sub id (1) = byte
        # p+16 → LE16 loop count at hex offsets 32/34
        "loop": hex2int(f"concat({at(34, 2)}, {at(32, 2)})"),
        "next_p": (f"(case when {netscape} then null "
                   f"when {valid} and {sub} then "
                   f"(case when {sub_len} = 0 then {p} + 1 "
                   f"else {p} + 1 + {sub_len} end) "
                   f"when {is_ext} then {p} + 2 end)"),
        "next_sub": (f"(case when {valid} and {sub} then ({sub_len} != 0) "
                     f"when {is_ext} then true else false end)"),
    }


def gif_anim_probe(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 1024,
    max_steps: int = 8,
) -> DataFrame:
    """Animated-GIF detection without a decode — the exclusion signal
    an image-training pipeline needs before treating a GIF as a still
    (an animated GIF decoded naively yields only its first frame,
    silently training on thumbnails of animations).

    A bounded block walk (like the PNG chunk walk): from the first
    block after the header + optional global color table, skip
    extension blocks generically (one step per sub-block) until the
    NETSCAPE2.0/ANIMEXTS1.0 application extension — whose LE16 loop
    count (0 = loop forever) is grabbed — or the first image
    descriptor / trailer, which means still image. ``max_steps``
    bounds the walk; real loop extensions appear within the first few
    blocks (a graphic-control + a short comment ahead of it costs 6
    steps), so the default 8 covers wild encoder layouts the old
    single fixed-position check missed (r4 ADVICE).

    Zero shuffle, no UDF, first ``scan_bytes`` bytes only. Appends
    (gif_animated — NULL for non-GIF payloads and for a walk that used
    up ``max_steps`` still positioned on a block, gif_loop_count — only
    for animated rows)."""
    hx = "_gifx_hx"
    st = gif_start_sql(hx=hx)
    out = (
        images.withColumn(
            hx, F.hex(F.substring(F.col(bytes_col), 1, int(scan_bytes))))
        .withColumn(
            "_gif0",
            F.expr(f"case when {st['is_gif']} "
                   f"then cast({st['start']} as bigint) end"))
        .withColumn("_gsub0", F.lit(False))
        .withColumn("_ganim", F.lit(None).cast("boolean"))
        .withColumn("_gloop", F.lit(None).cast("long"))
    )
    for i in range(int(max_steps)):
        s = gif_walk_step_sql(f"_gif{i}", f"_gsub{i}", hx=hx)
        out = (
            out.withColumn(
                "_ganim",
                F.expr(f"coalesce(_ganim, "
                       f"case when {s['netscape']} then true end)"))
            .withColumn(
                "_gloop",
                F.expr(f"coalesce(_gloop, case when {s['netscape']} "
                       f"then cast({s['loop']} as bigint) end)"))
            .withColumn(f"_gif{i + 1}",
                        F.expr(f"cast({s['next_p']} as bigint)"))
            .withColumn(f"_gsub{i + 1}", F.expr(s["next_sub"]))
        )
    return (
        out.withColumn(
            "gif_animated",
            # still only when the walk ended (_gif{max_steps} NULL): a
            # walk still positioned after max_steps is unknown, not still
            F.expr(f"case when {st['is_gif']} then coalesce(_ganim, "
                   f"case when _gif{int(max_steps)} is null then false "
                   "end) end"))
        .withColumn("gif_loop_count", F.col("_gloop"))
        .drop(hx, "_ganim", "_gloop",
              *[f"_gif{i}" for i in range(int(max_steps) + 1)],
              *[f"_gsub{i}" for i in range(int(max_steps) + 1)])
    )


def animation_probe(
    images: DataFrame,
    bytes_col: str = "bytes",
    scan_bytes: int = 1024,
    gif_steps: int = 6,
    png_chunks: int = 4,
) -> DataFrame:
    """ONE is-this-animated verdict across every animation-capable
    container the crawl admits — the dispatch gate that routes stills
    to the resize path and animations to frame sampling
    (:func:`gif_anim_probe` and the APNG acTL cover only their own
    formats; a pipeline consuming the sniffed mix needs the union):

    - GIF: the bounded loop-extension block walk (``gif_steps``);
    - PNG: the chunk walk's acTL animation-control chunk
      (``png_chunks``);
    - WEBP: the VP8X extended-container flags byte's animation bit
      (bit 1, per the public WebP container spec; VP8/VP8L bitstreams
      cannot animate — false);
    - JPEG/BMP: structurally still — false;
    - unsniffable/NULL payloads: NULL (unknown, not still).

    The two walks run at REDUCED budgets (6 GIF steps, 4 PNG chunks)
    — a graphic-control block plus a short comment use up the 6 GIF
    steps, so such a GIF reads NULL (unknown), never still —
    because both unrolled walks fuse into one projection stage:
    janino's 64 KB whole-stage-codegen method limit is the binding
    constraint, exactly as in :func:`display_dims` (verified by
    noop-write + log scan). Zero shuffle, no UDF. Appends
    (anim_format, is_animated, anim_frames, anim_loop_count) —
    frames only for APNG (acTL carries a count; GIF/WEBP would need a
    deeper frame-index walk), loop count only for animated GIFs."""
    out = gif_anim_probe(images, bytes_col=bytes_col,
                         scan_bytes=scan_bytes, max_steps=gif_steps)
    out = png_chunk_scan(out, bytes_col=bytes_col,
                         scan_bytes=min(int(scan_bytes), 512),
                         max_chunks=png_chunks)
    hx = "_anp_hx"
    out = out.withColumn(
        hx, F.hex(F.substring(F.col(bytes_col), 1, 21)))
    webp_anim = (
        f"(length({hx}) >= 42 and substring({hx}, 25, 8) = '56503858' "
        f"and (cast(conv(substring({hx}, 41, 2), 16, 10) as bigint) "
        f"div 2) % 2 = 1)")
    sniffed = sniff_col(bytes_col)
    return (
        out.withColumn("anim_format", sniffed)
        .withColumn(
            "is_animated",
            F.expr(f"case when anim_format = 'gif' then gif_animated "
                   f"when anim_format = 'png' "
                   f"then apng_frames is not null "
                   f"when anim_format = 'webp' then {webp_anim} "
                   f"when anim_format in ('jpeg', 'bmp') then false "
                   "end"))
        .withColumn(
            "anim_frames",
            F.expr("case when anim_format = 'png' "
                   "then apng_frames end"))
        .withColumn(
            "anim_loop_count",
            F.expr("case when anim_format = 'gif' "
                   "then gif_loop_count end"))
        .drop(hx, "gif_animated", "gif_loop_count", "phys_x_ppu",
              "phys_y_ppu", "phys_unit", "apng_frames", "has_icc")
    )


def admission_gate(
    images: DataFrame,
    max_pixels: int = 1 << 28,
    min_side: int = 64,
    caption_min_chars: int = 5,
    bytes_col: str = "bytes",
) -> DataFrame:
    """The end-to-end row-admission verdict for a LAION-style
    image+caption crawl — the single gate the ingest pipeline runs on
    every fetched row before it spends a decode, chaining the
    byte-level checks this module provides. First-match precedence:

    - ``no_payload`` — nothing fetched;
    - ``format_lie`` — the magic-byte sniff disagrees with a PRESENT
      declared format (or matches nothing: the poisoned-row case);
    - ``bomb`` — header pixel count over ``max_pixels`` (checked
      before any decode would allocate);
    - ``dims_mismatch`` — container header contradicts the declared
      dims (fires when either declared side is present and wrong);
    - ``no_declaration`` — declared fmt or dims are NULL and every
      byte-level check that could still run passed: the declaration
      was never actually verified, so the row must not silently
      admit (r4 ADVICE — NULL comparisons used to fall through);
    - ``too_small`` — shortest side (header dims when parseable,
      declared otherwise) under ``min_side`` (icons, trackers,
      spacers);
    - ``no_caption`` — NULL or sub-``caption_min_chars`` trimmed
      caption (nothing to align against);
    - ``admit``.

    Composite of :func:`sniff_col` + :func:`parse_header_dims` plus
    one verdict projection — still a single zero-shuffle map-side
    stage over the first 30 payload bytes; at 10^10 rows the gate
    rides the scan and the decode fleet only ever sees admits.

    Output: (image_id, fmt, sniffed_fmt, header_w, header_h,
    verdict)."""
    parsed = parse_header_dims(images, bytes_col=bytes_col) \
        .withColumn("sniffed_fmt", sniff_col(bytes_col))
    w_eff = F.coalesce(F.col("header_w"), F.col("w").cast("long"))
    h_eff = F.coalesce(F.col("header_h"), F.col("h").cast("long"))
    verdict = (
        F.when(F.col(bytes_col).isNull(), "no_payload")
        .when(F.col("sniffed_fmt").isNull()
              | (F.col("fmt").isNotNull()
                 & (F.col("sniffed_fmt") != F.col("fmt"))), "format_lie")
        .when(F.col("header_fmt").isNotNull()
              & (F.col("header_w") * F.col("header_h")
                 > int(max_pixels)), "bomb")
        .when(F.col("header_fmt").isNotNull()
              & ((F.col("header_w") != F.col("w").cast("long"))
                 | (F.col("header_h") != F.col("h").cast("long"))),
              "dims_mismatch")
        .when(F.col("fmt").isNull() | F.col("w").isNull()
              | F.col("h").isNull(), "no_declaration")
        .when(F.least(w_eff, h_eff) < int(min_side), "too_small")
        .when(F.col("caption").isNull()
              | (F.length(F.trim(F.col("caption")))
                 < int(caption_min_chars)), "no_caption")
        .otherwise("admit"))
    return parsed.select(
        "image_id", "fmt", "sniffed_fmt", "header_w", "header_h",
        verdict.alias("verdict"))


def admission_funnel(gated: DataFrame) -> DataFrame:
    """Ingest-funnel observability over :func:`admission_gate` output —
    the per-iteration metrics a crawl operator watches: how many rows
    each verdict ate, per sniffed format, and the dims envelope of
    what survived the parse. ONE hash aggregate with map-side
    partials; the output is |verdicts| x |formats| rows (tens), so at
    10^10 inputs this is a full-reduction metrics query, not a table.

    Output: (verdict, sniffed_fmt — 'none' for unsniffable, n_rows,
    n_declared_fmts, min_header_w, max_header_w; the dim bounds are
    -1 where no row in the group parsed a header)."""
    return (
        gated.groupBy(
            "verdict",
            F.coalesce(F.col("sniffed_fmt"), F.lit("none"))
            .alias("sniffed_fmt"))
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("fmt").alias("n_declared_fmts"),
             F.coalesce(F.min("header_w"), F.lit(-1).cast("long"))
             .alias("min_header_w"),
             F.coalesce(F.max("header_w"), F.lit(-1).cast("long"))
             .alias("max_header_w"))
    )


def vit_patch_tokens(
    images: DataFrame,
    patch: int = 14,
    max_side: int = 448,
) -> DataFrame:
    """Vision-transformer token-cost accounting per image — the budget
    number a multimodal training pipeline needs before mixing images
    into a token-metered batch (ViT patching per Dosovitskiy et al.
    2020; variable-aspect patch budgeting per NaViT, Dehghani et al.
    2023 — both public).

    Resize policy, all int64 (cross-engine exact, no float rounding):
    aspect-preserving DOWNSCALE so the longer side fits ``max_side``
    (never upscale) — ``side' = max(1, side * max_side div long0)``;
    the longer side lands exactly on max_side by construction. Token
    grid is ceil-div: ``grid = (side' + patch - 1) div patch``;
    ``vit_tokens = grid_w * grid_h + 1`` (the CLS token).

    Pure map-side projection: zero shuffle, whole-stage codegen, no
    UDF — at 10^10 images this rides the scan.

    Output: (image_id, w, h, resized_w, resized_h, grid_w, grid_h,
    vit_tokens)."""
    p, m = int(patch), int(max_side)
    long0 = F.greatest(F.col("w"), F.col("h")).cast("long")

    def _fit(side):
        scaled = F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(cast({side} as bigint) * {m}) div "
                   "greatest(cast(w as bigint), cast(h as bigint))"))
        return (F.when(long0 <= m, F.col(side).cast("long"))
                .otherwise(scaled))

    rw, rh = _fit("w"), _fit("h")
    gw = F.expr(f"(resized_w + {p - 1}) div {p}")
    gh = F.expr(f"(resized_h + {p - 1}) div {p}")
    return (
        images.select(
            "image_id", "w", "h",
            rw.alias("resized_w"), rh.alias("resized_h"))
        .withColumn("grid_w", gw)
        .withColumn("grid_h", gh)
        .withColumn(
            "vit_tokens",
            (F.col("grid_w") * F.col("grid_h") + F.lit(1)).cast("long"))
    )


def pack_webdataset_shards(
    images: DataFrame,
    shard_bytes: int,
    group: str = "fmt",
    seed: str = "wds",
) -> DataFrame:
    """WebDataset-style tar shard layout for image+caption samples — the
    final write step of an image-training pipeline (each shard is one
    .tar a loader streams; format per the public webdataset spec:
    consecutive members ``<key>.<fmt>`` + ``<key>.txt``).

    Exact tar arithmetic, all int64: a member costs a 512-byte header
    plus its payload padded up to a 512 boundary —
    ``member(n) = 512 + ((n + 511) div 512) * 512`` — and a sample is
    the image member plus the caption member (NULL caption = 0-byte
    member, still headered). Samples take a deterministic seeded-hash
    order within ``group``; ``shard_id = start_offset div shard_bytes``
    on the running pre-sample total (samples never split — a shard
    overruns by at most one sample, standard streaming bin packing);
    ``tar_offset`` is the sample's byte position inside its own shard.

    Scale posture: window 1 is ONE shuffle per group key (same shape as
    curation.pack_shards); window 2 re-partitions by (group, shard_id)
    — which is EXACTLY the repartition the shard writer needs next
    (one task = one output tar), so at 10^10 samples the second
    exchange is the write path's own shuffle, not overhead.

    Output: (image_id, group, sample_bytes, start_offset, shard_id,
    tar_offset)."""
    from xcrawl3r_spark.functions.hashing import seeded

    def _member(n):
        return F.lit(512) + F.expr(f"(({n}) + 511) div 512") * 512

    base = images.select(
        "image_id", group,
        (_member("cast(n_bytes as bigint)")
         + _member("cast(octet_length(coalesce(caption, '')) as bigint)")
         ).cast("long").alias("sample_bytes"),
        seeded(F.col("image_id"), seed).alias("h"),
    )
    w1 = (Window.partitionBy(group).orderBy("h", "image_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = (
        base.withColumn(
            "start_offset",
            (F.sum("sample_bytes").over(w1) - F.col("sample_bytes"))
            .cast("long"))
        .withColumn(
            "shard_id",
            F.expr(f"start_offset div {int(shard_bytes)}").cast("long"))
    )
    w2 = (Window.partitionBy(group, "shard_id").orderBy("h", "image_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        staged.withColumn(
            "tar_offset",
            (F.sum("sample_bytes").over(w2) - F.col("sample_bytes"))
            .cast("long"))
        .drop("h")
    )


def cross_modal_dups(images: DataFrame) -> DataFrame:
    """Cross-modal reuse audit over (image_id, phash, caption) pairs —
    the duplication structure a LAION-style corpus carries: the SAME
    image (by perceptual hash) re-posted under many captions, and the
    SAME caption (boilerplate alt-text) attached to many images. Both
    inflate a trained model's effective epoch count on those samples,
    so curation wants the group inventory before sampling.

    Two hash aggregates over one input (different keys — two shuffles
    is the floor), map-side partials, output filtered to dup groups
    only (n_pairs > 1), so at 10^10 pairs the result is the small
    reuse tail, not the corpus. Caption identity is md5-based 60-bit
    over the trimmed caption (cross-engine exact, functions/hashing).

    Output: (kind 'image_reuse'|'caption_reuse', key — the shared
    phash / caption hash as string, n_pairs, n_distinct_other — how
    many distinct captions / images share it)."""
    from xcrawl3r_spark.functions.hashing import md5_long

    cap_h = md5_long(F.trim(F.col("caption")))
    base = images.select(
        F.col("phash").cast("long").alias("phash"),
        cap_h.alias("cap_h"))
    img_reuse = (
        base.groupBy("phash")
        .agg(F.count("*").alias("n_pairs"),
             F.countDistinct("cap_h").alias("n_distinct_other"))
        .where(F.col("n_pairs") > 1)
        .select(F.lit("image_reuse").alias("kind"),
                F.col("phash").cast("string").alias("key"),
                "n_pairs", "n_distinct_other"))
    cap_reuse = (
        base.groupBy("cap_h")
        .agg(F.count("*").alias("n_pairs"),
             F.countDistinct("phash").alias("n_distinct_other"))
        .where(F.col("n_pairs") > 1)
        .select(F.lit("caption_reuse").alias("kind"),
                F.col("cap_h").cast("string").alias("key"),
                "n_pairs", "n_distinct_other"))
    return img_reuse.unionByName(cap_reuse)


def fetch_plan(
    refs: DataFrame,
    params: tuple[str, ...] = SIZE_QUERY_PARAMS,
) -> DataFrame:
    """The crawl→fetch bridge composite: from extract_image_refs output,
    the set of image GETs actually worth issuing — best-rendition refs
    only (``is_best``), rendition-canonicalized so WordPress/-WxH/@2x/
    resizer variants collapse to ONE planned fetch, with the pristine
    member preferred as the URL to GET.

    Unlike thumbnail_variants (per-URL audit rows via a window), the
    plan is a grouped summary: ONE hash aggregate on canonical_url
    (map-side partials; no window, no self-join) — at 10^10 refs this
    is a single shuffle whose output is the (much smaller) distinct
    fetch set. Keeper preference inside the agg:
    ``coalesce(min(url where url == canonical), min(url))``.

    Output: (canonical_url, fetch_url, n_refs, n_urls, n_pages)."""
    u = F.col("img_url")
    canon = refs.where("is_best").select(
        "page_url", u.alias("url"),
        canonical_image_url(u, params).alias("canonical_url"))
    return canon.groupBy("canonical_url").agg(
        F.coalesce(
            F.min(F.when(F.col("url") == F.col("canonical_url"),
                         F.col("url"))),
            F.min("url")).alias("fetch_url"),
        F.count("*").alias("n_refs"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("page_url").alias("n_pages"),
    )
