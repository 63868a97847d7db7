"""The multimodal lane end to end: binary assets enter through the
media convention and flow through REAL decode/feature/dedup operators
— no imaging or audio library required (stdlib PNG + WAV reference
decoders).

    python examples/multimodal_pipeline.py [sf_dir]

1. Synthesize a small on-disk asset directory (gradient PNGs + square
   -wave WAVs) and ingest it with the `binaryFile` source
   (`sources.read_binary_assets`) — the path real image/audio blobs
   take into a Spark pipeline.
2. Image lane: stdlib PNG decode → per-channel pixel statistics
   (`extract_features(use_real_decoder=True)`) and nearest-neighbor
   resize stats (`resized_pixel_stats`).
3. Audio lane: RIFF/PCM decode → sample rate / duration / per-channel
   RMS (`extract_audio_features`).
4. Near-dup lane over the documents fixture: Arrow aHash fingerprints
   + banded blocking (`fingerprint_near_pairs`) — the plan that holds
   at 100 TB (4 band rows per asset, never all-pairs).
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402

from baronbatch_etl_spark.io import DEFAULT_SF_DIR, load_table, materialize  # noqa: E402
from baronbatch_etl_spark.operators import multimodal as M  # noqa: E402
from baronbatch_etl_spark.session import get_spark  # noqa: E402
from baronbatch_etl_spark.sources.readers import read_binary_assets  # noqa: E402


def _write_assets(root: Path) -> None:
    import io
    import wave

    root.mkdir(parents=True, exist_ok=True)
    for i in range(4):
        (root / f"img_{i}.png").write_bytes(M._encode_png_gray(8 + i, 6 + i))
    for i in range(3):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            samples = np.full(800, 200 * (i + 1), dtype="<i2")
            w.writeframes(samples.tobytes())
        (root / f"clip_{i}.wav").write_bytes(buf.getvalue())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark("multimodal-pipeline")

    assets = Path(tempfile.mkdtemp()) / "assets"
    _write_assets(assets)

    print("== 1. binaryFile ingest (media convention) ==")
    media = read_binary_assets(spark, str(assets), glob="*")
    media.show(truncate=False)

    imgs = media.filter(media.payload.substr(2, 3) == bytearray(b"PNG"))

    print("== 2. image lane: real decode -> pixel stats ==")
    M.extract_features(imgs, use_real_decoder=True).show(truncate=False)
    M.resized_pixel_stats(imgs, tw=4, th=4).show()

    print("== 3. audio lane: PCM decode -> RMS ==")
    wavs = media.filter(media.payload.substr(1, 4) == bytearray(b"RIFF"))
    M.extract_audio_features(wavs).show()

    print("== 4. near-dup lane over documents (banded aHash) ==")
    docs = load_table(spark, sf_dir, "documents").limit(500)
    # both join sides read the fingerprints: computed once, stored
    fps = materialize(M.payload_fingerprints(M.documents_as_media(docs)))
    pairs = M.fingerprint_near_pairs(fps, max_hamming=4).collect()
    for row in pairs[:10]:
        print(row)
    print(f"near-dup candidate pairs: {len(pairs)}")


if __name__ == "__main__":
    main()
