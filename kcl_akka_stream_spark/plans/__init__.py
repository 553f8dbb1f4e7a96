"""Physical-plan inspection helpers (``plans.hygiene``)."""
