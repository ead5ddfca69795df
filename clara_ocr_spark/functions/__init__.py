"""Column functions — SURVEY §2.7 analogues, all JVM-side — and the
text-signature primitives (``textsig``) that curation, the pipeline
and the catalog share."""
