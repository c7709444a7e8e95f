-- getPatient: the profile row joined with the registry.
SELECT m.*, c.c_mktsegment AS segment, c.c_acctbal AS balance
FROM meta m LEFT JOIN customer c ON c.c_custkey = m.patient_id;
