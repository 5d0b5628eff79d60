"""Application assembly: the reference's EP2 CLI chain
(Dockerfile:277-287 extract → clean → load → dashboard-prep) over one
shared token table, with the LDA-theme and RF-classifier branches run
concurrently — see app.pipeline.run_pipeline.
"""
