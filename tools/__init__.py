"""Repository tools: the decade audit gate, close-out, driver simulation
and plan/fixture generators. Run each as a script from the repo root."""
