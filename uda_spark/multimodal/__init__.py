from uda_spark.multimodal.blob import (
    BLOB_META_SCHEMA,
    ahash_images,
    attach_blob_column,
    decode_audio_frames,
    decode_images,
    resize_images,
    extract_features,
    sample_frames,
)

__all__ = [
    "BLOB_META_SCHEMA",
    "ahash_images",
    "attach_blob_column",
    "decode_audio_frames",
    "decode_images",
    "resize_images",
    "extract_features",
    "sample_frames",
]
