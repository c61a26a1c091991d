from .ingest import run_stream_transcripts_to_snapshots, stream_transcript_source

__all__ = [
    "run_stream_transcripts_to_snapshots",
    "stream_transcript_source",
]
