"""Execution-plan utilities: lineage manifests + checkpoint resume, operator
cache release, thin-input widening."""
