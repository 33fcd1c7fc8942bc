"""Wave-242: two more classical image descriptors over REAL decoded PNGs
(the wave-87 GLCM device — Arrow-batched mapInPandas decode on the Spark
side, closed-form pixel algebra in the oracle): local binary patterns
with the uniform-code fraction, and the JPEG-style block DC/AC energy
split computed exactly via Parseval.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_ingestor_web_app_spark.registry import query

# LBP neighbor ring, clockwise from NW; bit k set iff neighbor >= center.
_LBP_OFFS = [(-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0)]

_PIX = "((x + ({dx})) * 7 + (y + ({dy})) * 13 + doc_id) % 256"
_CENTER = "(x * 7 + y * 13 + doc_id) % 256"
_BITS_SQL = ", ".join(
    f"CASE WHEN {_PIX.format(dx=dx, dy=dy)} >= {_CENTER} THEN 1 ELSE 0 END"
    f" AS b{k}"
    for k, (dx, dy) in enumerate(_LBP_OFFS)
)
_TRANS_SQL = " + ".join(
    f"ABS(b{k} - b{(k + 1) % 8})" for k in range(8)
)
_CODE_SQL = " + ".join(f"b{k} * {1 << k}" for k in range(8))


@query(
    "mm_image_lbp",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(1, h - 1)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(1, w - 1)) AS x FROM ys),
    bits AS (
        SELECT doc_id, {_BITS_SQL}
        FROM px
    ),
    codes AS (
        SELECT doc_id,
               {_CODE_SQL} AS code,
               CASE WHEN {_TRANS_SQL} <= 2 THEN 1 ELSE 0 END AS uniform
        FROM bits
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_interior,
           CAST(SUM(code) AS BIGINT) AS sum_code,
           CAST(SUM(uniform) AS BIGINT) AS n_uniform,
           SUM(uniform) / CAST(COUNT(*) AS DOUBLE) AS uniform_frac
    FROM codes GROUP BY doc_id
    """,
)
def mm_image_lbp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local binary patterns (Ojala, Pietikainen & Maenpaa, TPAMI 2002,
    public) per decoded PNG: each interior pixel's 8-neighbor ring
    (clockwise from NW, bit set iff neighbor >= center) yields a code in
    0..255; 'uniform' codes (<= 2 circular 0/1 transitions) are the
    58-pattern subset that carries most texture information — their
    fraction is the texture-regularity screen a multimodal pipeline
    runs before expensive featurization.

    Determinism: codes, transition counts and sums are pure integers;
    the single division to uniform_frac is the only double. The oracle
    reconstructs pixels from the generator's closed form — neighbor
    values are expressions, not joins.

    Scale shape: Arrow-batched mapInPandas, numpy ring-shift + popcount
    arithmetic per image, one output row per image, zero shuffle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def lbp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(
                    np.int64
                )
                c = img[1:-1, 1:-1]
                bits = []
                for dx, dy in _LBP_OFFS:
                    nb = img[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                    bits.append((nb >= c).astype(np.int64))
                code = sum(b << k for k, b in enumerate(bits))
                trans = sum(
                    np.abs(bits[k] - bits[(k + 1) % 8]) for k in range(8)
                )
                uniform = (trans <= 2).astype(np.int64)
                n_int = int(c.size)
                rows.append(
                    (
                        doc_id,
                        n_int,
                        int(code.sum()),
                        int(uniform.sum()),
                        int(uniform.sum()) / n_int,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_interior",
                    "sum_code",
                    "n_uniform",
                    "uniform_frac",
                ],
            )

    return payloads.mapInPandas(
        lbp_batches,
        schema=(
            "doc_id long, n_interior long, sum_code long, n_uniform long,"
            " uniform_frac double"
        ),
    )


@query(
    "mm_image_block_energy",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, x // 8 AS bx, y // 8 AS by,
               (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
        WHERE x // 8 < w // 8 AND y // 8 < h // 8
    ),
    blocks AS (
        SELECT doc_id, bx, by,
               CAST(SUM(v) AS BIGINT) AS dc,
               CAST(SUM(v * v) AS BIGINT) AS sq
        FROM vals GROUP BY doc_id, bx, by
    ),
    feat AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(dc) AS BIGINT) AS sum_dc,
               CAST(SUM(64 * sq - dc * dc) AS BIGINT) AS ac_energy,
               CAST(SUM(dc * dc) AS BIGINT) AS dc_energy
        FROM blocks GROUP BY doc_id
    )
    SELECT doc_id, n_blocks, sum_dc, ac_energy,
           CAST(dc_energy AS DOUBLE) / (dc_energy + ac_energy)
               AS dc_energy_share
    FROM feat
    """,
)
def mm_image_block_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG-style 8x8 block energy compaction per decoded PNG: in any
    orthogonal block transform whose first basis vector is constant
    (DCT, WHT — the JPEG family), the DC coefficient of a block is
    sum(v)/8 and Parseval gives the AC energy EXACTLY as
    64*sum(v^2) - (sum v)^2 over the unnormalized sums — integer
    arithmetic, no cosines. dc_energy_share is the compaction ratio
    JPEG exploits: smooth images put ~all energy in DC, noisy ones
    don't — a one-number compressibility screen per image (Wallace,
    CACM 1991, public, for the block-transform framing).

    Determinism: everything integer until the final share division;
    only complete 8x8 blocks count (partial edges excluded identically
    via the same floor-division guard in both engines).

    Scale shape: mapInPandas with numpy block reshaping, one row per
    image; the oracle's relational form exists only for verification."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def block_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(
                    np.int64
                )
                hb, wb = h // 8, w // 8
                crop = img[: hb * 8, : wb * 8]
                blocks = crop.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3)
                flat = blocks.reshape(hb * wb, 64)
                dc = flat.sum(axis=1)
                sq = (flat * flat).sum(axis=1)
                ac = 64 * sq - dc * dc
                dce = dc * dc
                rows.append(
                    (
                        doc_id,
                        int(hb * wb),
                        int(dc.sum()),
                        int(ac.sum()),
                        float(dce.sum()) / (int(dce.sum()) + int(ac.sum())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_blocks",
                    "sum_dc",
                    "ac_energy",
                    "dc_energy_share",
                ],
            )

    return payloads.mapInPandas(
        block_batches,
        schema=(
            "doc_id long, n_blocks long, sum_dc long, ac_energy long,"
            " dc_energy_share double"
        ),
    )
