"""Byte identity of the 18 ``synth_*`` payload generators.

Every generator runs through ``multimodal.synth_payloads``; the decoder
oracles check its bytes only through decoded statistics.  These digests
pin the exact payloads: md5 over the sorted ``(item_id, payload)`` rows
for doc ids 0-63 of the sf0.001 ``documents`` table (the text-taking
generators encode that table's text).
"""

from __future__ import annotations

import hashlib
import struct

import pytest
from pyspark.sql import functions as F

from osmexpress_spark.operators import compress
from osmexpress_spark.operators import multimodal as M
from osmexpress_spark.sources import warc

from test_oracle_parity import SF_DIR  # noqa: E402  (the sf0.001 tables)

DOCS = f"{SF_DIR}/documents.parquet"

# md5 over "{doc_id}\0{text}\1" for the sorted input rows: a changed
# fixture fails here, not as a payload mismatch below
TEXT_DIGEST = "78c7b517848f4f3b67efc276bed9ad63"

DIGESTS = {
    "synth_adts": "a90da01a7e5eb06a166c75cd2c93319a",
    "synth_au_ulaw": "8d9b1d171a0694ebe9ee50cc72cebc19",
    "synth_bmp24": "530594f2dd2bd9ecfa6c94e2c2098457",
    "synth_encoded": "31a46a87d7488ea132c297aa2a729792",
    "synth_flac8": "a32795236ac22144a5420ee1fc018ceb",
    "synth_jpeg_lossless": "caaf60eba61b5402e4a551c96b13cc28",
    "synth_mp3_frames": "ed4cc896fb030e6b91972f19f6b5e483",
    "synth_mp3_l3": "f5de60b2c47383fa41ec3e7c0aa02f37",
    "synth_mp3_pcm": "45261ff6bbf72b99460bd2bc1b782995",
    "synth_ogg": "b14d2eaee84efe53eef42bab68070889",
    "synth_vorbis": "1357a12f7bc2de6a6951bacec60ab3c3",
    "synth_vorbis_pcm": "e278e0af02ad5d186edf2deee2b40937",
    "synth_warc": "3c2cd55ef13e97e0b480f2fccfaee2c5",
    "synth_wav8": "d01ff554f8b7ea1c300a58c763fc616e",
    "synth_wav_g711": "806b41bdc1989f69b1edc9d18cd935c3",
    "synth_wav_ima": "933ba115c325a45930c91eab727fc4ca",
    "synth_webp_lossless": "64e9f5aa862b0f1bb901ce9eaabc62dd",
    "synth_zstd": "4562a5b0e4793543350f177d744a16c5",
}

SYNTHS = {
    "synth_warc": warc.synth_warc,
    "synth_zstd": compress.synth_zstd,
    **{n: getattr(M, n) for n in DIGESTS if hasattr(M, n)},
}


def _docs(spark):
    return spark.read.parquet(DOCS).where(F.col("doc_id") < 64)


def test_every_synthesizer_is_pinned():
    names = {n for n in dir(M) if n.startswith("synth_")}
    names -= {"synth_payloads"}
    assert names | {"synth_warc", "synth_zstd"} == set(DIGESTS)
    assert set(SYNTHS) == set(DIGESTS)


def test_input_text_digest(spark):
    h = hashlib.md5()
    for doc_id, text in sorted(_docs(spark).select("doc_id", "text").collect()):
        h.update(f"{doc_id}\x00{text}\x01".encode())
    assert h.hexdigest() == TEXT_DIGEST


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_synth_payload_bytes(spark, name):
    rows = sorted((r[0], r[1]) for r in SYNTHS[name](_docs(spark)).collect())
    assert [i for i, _ in rows] == list(range(64))
    h = hashlib.md5()
    for item_id, payload in rows:
        h.update(struct.pack("<q", item_id))
        h.update(struct.pack("<q", -1 if payload is None else len(payload)))
        h.update(payload or b"")
    assert h.hexdigest() == DIGESTS[name]
