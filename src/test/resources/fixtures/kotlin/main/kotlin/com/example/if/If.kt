package com.example.`if`

data class IfConfig(val verbose: Boolean, val level: Int)

fun ifTypeInference(flag: Boolean): IfConfig {
    val config = if (flag) {
        IfConfig(verbose = true, level = 2)
    } else {
        IfConfig(verbose = false, level = 0)
    }
    return config
}

fun usageOfIfTypeInference() {
    val config = ifTypeInference(true)
    println(config.level)
}
