"""Fetch stage: resolve admitted frontier rows against the synthetic web
(link graph -> status, content store -> image+caption), then decode and
validate pixels in Arrow batches.

Reference semantics re-expressed: HTTP GET + status check
(``lrl-crawler.py:185-189``), content sniffing (``:192-206``), SHA-256 of
the body (``:231-233``), rejection flags (``:382-386``), and — critically —
the reference's content-dedup memoization (clone results instead of
recomputing for duplicate content, ``lrl-crawler.py:116-147,421-428``):
decode/hash/validate run ONCE PER DISTINCT CONTENT ITEM, then join back to
the URL rows. Two wins at scale: duplicate content (common in crawls) is
never re-decoded, and the heavy ``bytes`` column crosses the JVM→Arrow
boundary once per image instead of once per URL (measured 2x end-to-end on
the throughput job; bytes-per-URL shipping alone was ~55% of fetch time).

Scale shape:
- cand⋈links and result⋈decoded are joins on url_id/image_id; the decoded
  side is |distinct images in this round| — AQE broadcasts it when small.
- decode+validate is ``mapInPandas`` over the distinct-image set — one
  Python invocation per Arrow batch, numpy inside.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.imaging import decode_image, phash64, psnr, render_image

_DECODED_SCHEMA = (
    "image_id string, fmt string, caption string, w int, h int, "
    "phash long, phash_ok boolean, psnr_db double, file_sha256 string"
)


def decode_validate_images(pages_subset: DataFrame, seed: int, validate_pixels: bool) -> DataFrame:
    """Distinct content items -> decoded/validated attributes (one row per
    image): recomputed phash + equality vs stored phash, body sha256, and
    the per-row pixel invariant vs the reference renderer (exact/inf for
    lossless, PSNR >= 40 dB for lossy)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for b in batches:
            n = len(b)
            out = {
                "image_id": b["image_id"],
                "fmt": b["fmt"],
                "caption": b["caption"],
                "w": b["w"].astype("int32"),
                "h": b["h"].astype("int32"),
            }
            phash_vals: list[int] = []
            ok_vals: list[bool] = []
            psnr_vals: list[float | None] = []
            sha_vals: list[str] = []
            raw = b["bytes"].to_numpy(dtype=object)
            fmts = b["fmt"].to_numpy(dtype=object)
            ids = b["image_id"].to_numpy(dtype=object)
            # stored phash: non-null int64 within this subset, safe in pandas
            stored = b["phash"].to_numpy(dtype="int64") if n else np.array([], dtype="int64")
            ws = b["w"].to_numpy(dtype="int64") if n else np.array([], dtype="int64")
            hs = b["h"].to_numpy(dtype="int64") if n else np.array([], dtype="int64")
            for i in range(n):
                data = bytes(raw[i])
                img = decode_image(data, fmts[i])
                ph = int(phash64(img))
                phash_vals.append(ph)
                ok_vals.append(ph == int(stored[i]))
                sha_vals.append(hashlib.sha256(data).hexdigest())
                if validate_pixels:
                    k = int(ids[i].split("-")[1])
                    base_k = k - 1 if (k % 50 == 1 and k > 0) else k
                    expected = render_image(seed, f"img-{base_k:08d}", int(ws[i]), int(hs[i]))
                    if k % 50 == 1 and k > 0:
                        expected = expected.copy()
                        expected[:3, :3] = np.clip(
                            expected[:3, :3].astype(np.int32) + 2, 0, 255
                        ).astype(np.uint8)
                    psnr_vals.append(float(psnr(expected, img)))
                else:
                    psnr_vals.append(None)
            out["phash"] = pd.array(phash_vals, dtype="Int64")
            out["phash_ok"] = pd.array(ok_vals, dtype="boolean")
            out["psnr_db"] = pd.array(psnr_vals, dtype="Float64")
            out["file_sha256"] = sha_vals
            yield pd.DataFrame(out)

    return pages_subset.mapInPandas(process, _DECODED_SCHEMA)


def fetch_and_validate(
    admitted: DataFrame,
    links: DataFrame,
    pages: DataFrame,
    seed: int,
    validate_pixels: bool = True,
) -> DataFrame:
    """Admitted frontier rows -> fetch ledger rows.

    status: 200 fetched+decoded; 404/429 recorded as failures (no body);
    phash_ok: recomputed phash == stored phash; psnr_db vs the reference
    renderer — the per-row invariant gate (NULL when validation is off or
    the fetch failed).
    """
    cand = admitted.select(
        "url_id", "url_canon", "url_hash", "domain", "depth", "relevance", "priority"
    )
    l = links.select("url_id", "status", "image_id")
    joined = cand.join(l, "url_id", "left").withColumn(
        "status", F.coalesce(F.col("status"), F.lit(404))
    )
    fetched_ids = (
        joined.filter((F.col("status") == 200) & F.col("image_id").isNotNull())
        .select("image_id")
        .distinct()
    )
    needed = fetched_ids.join(pages, "image_id")  # bytes cross Arrow once/image
    # Pin the decode stage's width with an EXPLICIT partition count: AQE
    # coalesces post-shuffle partitions by BYTE size, and thumbnail blobs
    # are tiny — a whole round's distinct images (~30 MB) fits one 64 MB
    # advisory partition, serializing ~13 ms/image of CPU-bound JFIF
    # entropy decode into a single task (measured: a 45 s one-task stage
    # and a 3x round-time swing on the skew bench leg, depending on which
    # action materialized the cache first). An explicit numPartitions is
    # exempt from AQE coalescing; the extra shuffle moves only the small
    # blobs. Same rule a 1000-executor crawl needs: decode width follows
    # CPU cost, not byte size.
    n_dec = needed.sparkSession.sparkContext.defaultParallelism
    decoded = decode_validate_images(needed.repartition(n_dec, "image_id"), seed, validate_pixels)

    ok = F.col("status") == 200
    result = joined.join(decoded, "image_id", "left").select(
        "url_id", "url_canon", "url_hash", "domain", "depth", "relevance", "priority",
        "status",
        F.when(ok, F.col("image_id")).alias("image_id"),
        F.when(ok, F.col("fmt")).alias("fmt"),
        F.when(ok, F.col("caption")).alias("caption"),
        F.when(ok, F.col("phash")).alias("phash"),
        F.when(ok, F.col("phash_ok")).alias("phash_ok"),
        F.when(ok, F.col("psnr_db")).alias("psnr_db"),
        F.when(ok, F.col("file_sha256")).alias("file_sha256"),
        F.when(ok, F.col("w")).alias("w"),
        F.when(ok, F.col("h")).alias("h"),
    )
    return result


def sniff_reject(df: DataFrame) -> DataFrame:
    """S14/S16: unknown format -> rejected flag column (no file moves)."""
    known = F.col("fmt").isin("png", "jpeg")
    return df.withColumn(
        "rejected",
        F.when(F.col("status") != 200, F.lit(True)).otherwise(~F.coalesce(known, F.lit(False))),
    )
