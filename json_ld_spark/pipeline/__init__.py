"""Pipeline stages: transcript synthesis, triple extraction, entity linking,
block canonicalization, manifest/resume, end-to-end job."""
